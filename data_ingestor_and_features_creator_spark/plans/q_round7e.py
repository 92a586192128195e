"""Round-7e operator additions: ranking metrics (NDCG@k, MRR@k),
Donchian channel breakouts, the Dickey-Fuller stationarity statistic,
and a two-sample Poisson rate test.

Provenance (SURVEY.md §0 applies — empty reference checkout): NDCG is
Järvelin & Kekäläinen [PK]; MRR is the TREC QA metric [PK]; Donchian
channels are the published trend system [PK]; the Dickey-Fuller test
is DF 1979 [PK]; the conditional Poisson rate test is the standard
binomial reduction [PK].

Float discipline (functions/exact.py rules): NDCG position discounts
1/log2(i+1) are pinned to 9 dp IN PYTHON and inlined as identical
literals (zero query-time libm); every full-precision sum is
string-routed through DECIMAL(38,12); quotients (NDCG, MRR, tau, z)
are emitted UNROUNDED (win_vwap convention).

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead of
these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC, dsum_str, dsum_str_sql
from .registry import query


# round(1/log2(i+1), 9) for i = 1..10 — evaluated once in Python so
# both engines consume the same literal table (no query-time log2).
_NDCG_DISC = [1.0, 0.630929754, 0.5, 0.430676558, 0.386852807,
              0.356207187, 0.333333333, 0.315464877, 0.301029996,
              0.289064826]
_K = 10


def _disc_case(pos: str) -> str:
    arms = " ".join(f"WHEN {pos} = {i + 1} THEN {_NDCG_DISC[i]}"
                    for i in range(_K))
    return f"CASE {arms} ELSE 0.0 END"


# ---------------------------------------------------------------------------
# NDCG@10 per query (user) cohort
# ---------------------------------------------------------------------------

_NDCG_SQL = f"""
WITH v AS (
  SELECT user_id, event_id, value,
         CAST(event_id % 4 AS BIGINT) AS rel
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
ranked AS (
  SELECT user_id, rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS pos
  FROM v),
ideal AS (
  SELECT user_id, rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY rel DESC, event_id) AS pos
  FROM v),
dcg AS (
  SELECT user_id,
         CAST(SUM(CAST((CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 3 ELSE 7 END)
                  * ({_disc_case('pos')}) AS DECIMAL(38,12)))
              AS DOUBLE) AS dcg
  FROM ranked WHERE pos <= {_K} GROUP BY user_id),
idcg AS (
  SELECT user_id,
         CAST(SUM(CAST((CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 3 ELSE 7 END)
                  * ({_disc_case('pos')}) AS DECIMAL(38,12)))
              AS DOUBLE) AS idcg
  FROM ideal WHERE pos <= {_K} GROUP BY user_id),
nd AS (
  SELECT d.user_id, CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg END AS ndcg
  FROM dcg d JOIN idcg i ON d.user_id = i.user_id)
SELECT CAST(user_id % 4 AS INT) AS cohort,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       {dsum_str_sql('ndcg')} / COUNT(ndcg) AS mean_ndcg
FROM nd GROUP BY cohort
"""


@query("ml_ndcg_at_k", oracle=_NDCG_SQL)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 (Järvelin & Kekäläinen [PK]) — the graded ranking
    metric every retrieval/recommendation eval reports: per query
    (user), rank candidates by model score (value; NaN/NULL filtered
    — the engines' NaN ordering is the documented divergence), gain =
    2^rel − 1 with rel = event_id % 4 as the fixture's graded label,
    DISCOUNTED by 1/log2(pos+1). The discounts are a 10-entry literal
    table pinned to 9 dp in PYTHON — query-time log2 is zero, so DCG
    terms are exact-integer × literal products; the ≤10-term sums run
    through DECIMAL (order-free). NDCG = DCG/IDCG (ideal = rank by
    rel) and the per-cohort mean re-routes through string-routed
    decimal, emitted UNROUNDED. Scale shape: two per-user window
    ranks sharing one user_id exchange, then user-sized joins — at
    100 TB ranking evals are exactly this per-query-group shape."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "event_id", "value",
                   (F.col("event_id") % 4).alias("rel")))
    gain = F.expr("CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 "
                  "WHEN 2 THEN 3 ELSE 7 END")
    w_score = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    w_ideal = W.partitionBy("user_id").orderBy(F.desc("rel"), "event_id")

    def dcg_of(wspec, name):
        ranked = v.select("user_id", "rel",
                          F.row_number().over(wspec).alias("pos"))
        term = (gain * F.expr(_disc_case("pos"))).cast(DEC)
        return (ranked.filter(F.col("pos") <= _K)
                .groupBy("user_id")
                .agg(F.sum(term).cast("double").alias(name)))

    nd = (dcg_of(w_score, "dcg")
          .join(dcg_of(w_ideal, "idcg"), "user_id")
          .select("user_id",
                  F.when(F.col("idcg") > 0,
                         F.col("dcg") / F.col("idcg")).alias("ndcg")))
    return (nd.groupBy((F.col("user_id") % 4).cast("int").alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 (dsum_str("ndcg") / F.count("ndcg"))
                 .alias("mean_ndcg")))


# ---------------------------------------------------------------------------
# MRR@10 per cohort
# ---------------------------------------------------------------------------

@query("ml_mrr_at_k", oracle=f"""
WITH v AS (
  SELECT user_id, event_id, value,
         CAST(event_id % 4 AS BIGINT) AS rel
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
ranked AS (
  SELECT user_id, rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS pos
  FROM v),
fr AS (
  SELECT user_id,
         MIN(CASE WHEN rel >= 2 AND pos <= {_K} THEN pos END)
           AS first_rel_pos
  FROM ranked GROUP BY user_id),
rr AS (
  SELECT user_id,
         CASE WHEN first_rel_pos IS NOT NULL
              THEN 1.0 / first_rel_pos ELSE 0.0 END AS rr
  FROM fr)
SELECT CAST(user_id % 4 AS INT) AS cohort,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(CASE WHEN rr > 0 THEN 1 END) AS BIGINT) AS n_hit,
       {dsum_str_sql('rr')} / COUNT(*) AS mrr
FROM rr GROUP BY cohort
""")
def ml_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 [PK — the TREC QA mean reciprocal rank]: per query
    (user), the reciprocal rank of the FIRST relevant candidate
    (rel ≥ 2) within the top 10 by score, 0 when none — the metric
    for find-the-one-answer tasks where NDCG's graded tail is noise.
    Reciprocal ranks are exact binary rationals (1/1..1/10) identical
    cross-engine; their cohort sum is STRING-ROUTED through
    DECIMAL(38,12) and the mean emitted UNROUNDED (short-decimal
    quotients — 1/4 + ... — sit on ROUND's half-grid with real
    probability). hit-rate rides along as an exact count. Same
    one-exchange rank shape as ml_ndcg_at_k."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "event_id",
                   (F.col("event_id") % 4).alias("rel"), "value"))
    w_score = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ranked = v.select("user_id", "rel",
                      F.row_number().over(w_score).alias("pos"))
    fr = (ranked.groupBy("user_id")
          .agg(F.min(F.when((F.col("rel") >= 2) & (F.col("pos") <= _K),
                            F.col("pos"))).alias("first_rel_pos")))
    rr = fr.select(
        "user_id",
        F.when(F.col("first_rel_pos").isNotNull(),
               F.lit(1.0) / F.col("first_rel_pos"))
        .otherwise(F.lit(0.0)).alias("rr"))
    return (rr.groupBy((F.col("user_id") % 4).cast("int").alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.count(F.when(F.col("rr") > 0, 1)).alias("n_hit"),
                 (dsum_str("rr") / F.count(F.lit(1))).alias("mrr")))


# ---------------------------------------------------------------------------
# Donchian channel breakouts per user
# ---------------------------------------------------------------------------

_DON_N = 20


@query("win_donchian_channel", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
d AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER w AS t,
         MAX(value) OVER (w ROWS BETWEEN {_DON_N} PRECEDING
                          AND 1 PRECEDING) AS upper_ch,
         MIN(value) OVER (w ROWS BETWEEN {_DON_N} PRECEDING
                          AND 1 PRECEDING) AS lower_ch
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id, upper_ch, lower_ch,
       (upper_ch + lower_ch) / 2.0 AS mid_ch,
       COALESCE(value > upper_ch, false) AS breakout_up,
       COALESCE(value < lower_ch, false) AS breakout_down
FROM d WHERE t > {_DON_N}
""")
def win_donchian_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DONCHIAN CHANNEL [PK — the original trend-following system]:
    trailing {_DON_N}-reading high/low band EXCLUDING the current row
    (frame ends at 1 PRECEDING — including it would make an upside
    breakout definitionally impossible), midline, and breakout flags.
    Everything is MAX/MIN/comparison — exact on both engines, no
    float discipline needed beyond the NaN≡missing pre-filter (NaN
    would poison MAX per scalar_nan_semantics); the midline average
    of two exact doubles is identical IEEE, emitted unrounded; flags
    COALESCEd non-nullable (house boolean rule). Pairs with
    win_kaufman_er: ER gates whether a Donchian breakout is trend or
    chop. One user_id exchange, one sort, three frames sharing it."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "ts", "event_id", "value"))
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    band = wo.rowsBetween(-_DON_N, -1)
    d = v.select(
        "user_id", "event_id", "value",
        F.row_number().over(wo).alias("t"),
        F.max("value").over(band).alias("upper_ch"),
        F.min("value").over(band).alias("lower_ch"))
    return (d.filter(F.col("t") > _DON_N)
            .select("user_id", "event_id", "upper_ch", "lower_ch",
                    ((F.col("upper_ch") + F.col("lower_ch")) / 2.0)
                    .alias("mid_ch"),
                    F.coalesce(F.col("value") > F.col("upper_ch"),
                               F.lit(False)).alias("breakout_up"),
                    F.coalesce(F.col("value") < F.col("lower_ch"),
                               F.lit(False)).alias("breakout_down")))


# ---------------------------------------------------------------------------
# Dickey-Fuller stationarity statistic per user
# ---------------------------------------------------------------------------

@query("ts_adf_stat", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
p AS (
  SELECT user_id,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS x,
         value AS cur
  FROM v),
xy AS (
  SELECT user_id, x, cur - x AS y FROM p WHERE x IS NOT NULL),
s AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_str_sql('x')} AS sx, {dsum_str_sql('y')} AS sy,
         {dsum_str_sql('x * x')} AS sxx,
         {dsum_str_sql('y * y')} AS syy,
         {dsum_str_sql('x * y')} AS sxy
  FROM xy GROUP BY user_id),
f AS (
  SELECT user_id, CAST(n AS BIGINT) AS n_diffs,
         (n * sxy - sx * sy) AS cxy,
         (n * sxx - sx * sx) AS cxx,
         (n * syy - sy * sy) AS cyy
  FROM s WHERE n >= 10),
b AS (
  SELECT user_id, n_diffs, cxy / cxx AS beta,
         (cyy - cxy * cxy / cxx)
           / (CAST(n_diffs AS DOUBLE) - 2.0) / cxx AS se2
  FROM f WHERE cxx > 0)
SELECT user_id, n_diffs, beta,
       CASE WHEN se2 > 0 THEN beta / SQRT(se2) END AS tau
FROM b
""")
def ts_adf_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER tau statistic (DF 1979 [PK], lag-0 with
    constant) per user series: regress Δx_t on x_{t-1}; tau = β̂/se(β̂)
    far below ~−2.9 rejects the unit root — the stationarity gate
    every ts_seasonal_decompose / ARIMA-ish downstream step should
    check first. Assembly is the agg_regression_trend pattern taken
    through the CANCELLATION-SAFE path: all six sums are dsum_str
    (string-routed DECIMAL — n·Σxy − ΣxΣy is an e9−e9 cancellation
    at blow-up scale, the documented ANOVA failure mode), β and tau
    are then identical IEEE arithmetic emitted UNROUNDED. Degenerate
    series (n < 10, constant x, zero residual) yield NULL/absent per
    the house NULL-feature policy. One user exchange: lag window and
    group aggregate share the sort."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "ts", "event_id", "value"))
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = v.select("user_id", F.lag("value").over(wo).alias("x"),
                 F.col("value").alias("cur"))
    xy = (p.filter(F.col("x").isNotNull())
           .select("user_id", "x", (F.col("cur") - F.col("x")).alias("y")))
    s = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_str("x").alias("sx"), dsum_str("y").alias("sy"),
        dsum_str(F.col("x") * F.col("x")).alias("sxx"),
        dsum_str(F.col("y") * F.col("y")).alias("syy"),
        dsum_str(F.col("x") * F.col("y")).alias("sxy"))
    n = F.col("n")
    cxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    cxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    f = (s.filter(n >= 10)
          .select("user_id", n.cast("long").alias("n_diffs"),
                  cxy.alias("cxy"), cxx.alias("cxx"), cyy.alias("cyy")))
    nd = F.col("n_diffs").cast("double")
    beta = F.col("cxy") / F.col("cxx")
    # se²(β̂) = SSE_scaled / ((n−2)·cxx) with SSE_scaled = cyy − cxy²/cxx
    # (identical operation order in the oracle text).
    se2 = ((F.col("cyy") - F.col("cxy") * F.col("cxy") / F.col("cxx"))
           / (nd - 2.0) / F.col("cxx"))
    b = (f.filter(F.col("cxx") > 0)
          .select("user_id", "n_diffs", beta.alias("beta"),
                  se2.alias("se2")))
    tau = F.when(F.col("se2") > 0,
                 F.col("beta") / F.sqrt(F.col("se2")))
    return b.select("user_id", "n_diffs", "beta", tau.alias("tau"))


# ---------------------------------------------------------------------------
# Two-sample Poisson rate test (first vs second time half)
# ---------------------------------------------------------------------------

@query("agg_two_sample_poisson", oracle="""
WITH f AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
           FROM events),
t AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) * 2 <= f.lo + f.hi THEN 1 ELSE 0 END
           AS first_half
  FROM events, f),
c AS (
  SELECT event_type,
         CAST(SUM(first_half) AS BIGINT) AS k1,
         CAST(SUM(1 - first_half) AS BIGINT) AS k2
  FROM t GROUP BY event_type)
SELECT event_type, k1, k2,
       CASE WHEN k1 + k2 > 0 THEN
         (CAST(k1 AS DOUBLE) - CAST(k1 + k2 AS DOUBLE) * 0.5)
         / SQRT(CAST(k1 + k2 AS DOUBLE) * 0.25)
       END AS z_rate
FROM c
""")
def agg_two_sample_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE POISSON RATE TEST via the conditional binomial
    reduction [PK — Przyborowski & Wilenski]: given k1 + k2 total
    arrivals, under equal rates over equal exposures (the two time
    halves, split at the integer epoch-µs midpoint) k1 is
    Binomial(k1+k2, τ = 1/2), so z = (k1 − Nτ)/√(Nτ(1−τ)) — the
    volume-shift alarm an ingestion monitor runs per stream where
    stat_two_proportion_z watches a VALUE rate (same halves, different
    question: COUNT drift vs CONVERSION drift). τ = 0.25 variance
    term written as exact literals; counts exact integers; z is
    identical IEEE arithmetic emitted UNROUNDED. One map-combined
    aggregate + broadcast frontier — the cheapest possible monitor
    at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    f_ = ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                F.max(F.unix_micros("ts")).alias("hi"))
    first = F.when(F.unix_micros("ts") * 2 <= F.col("lo") + F.col("hi"),
                   1).otherwise(0)
    c = (ev.crossJoin(F.broadcast(f_))
           .select("event_type", first.alias("first_half"))
           .groupBy("event_type")
           .agg(F.sum("first_half").alias("k1"),
                F.sum(1 - F.col("first_half")).alias("k2")))
    ntot = (F.col("k1") + F.col("k2")).cast("double")
    z = (F.col("k1").cast("double") - ntot * 0.5) / F.sqrt(ntot * 0.25)
    return c.select("event_type", "k1", "k2",
                    F.when(F.col("k1") + F.col("k2") > 0, z)
                    .alias("z_rate"))
