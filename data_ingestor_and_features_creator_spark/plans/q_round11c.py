"""Round-11 operator batch C (SURVEY.md §2 growth): rank statistics
that finish the nonparametric two-sample family — Brunner-Munzel
(the heteroscedastic replacement for Mann-Whitney) and the tie-aware
two-sample Anderson-Darling — plus recommender-style top-k accuracy
and the l-diversity privacy audit next to audit_k_anonymity.

Rank discipline (the agg_mannwhitney_u / stat_kruskal_wallis scale
shape): NO raw fact row ever crosses a global window. All midranks and
cumulative counts are derived on the DISTINCT-VALUE table (per-value
histograms are map-side combinable; the only unpartitioned window runs
above that aggregate, bounded by value-domain cardinality), then joined
back to per-(group, value) counts. Float sums run through
DECIMAL(38,12) (functions/exact.py); final statistics are one
identical IEEE expression per engine rounded to 6 dp.

Provenance (SURVEY.md §0 applies — empty reference checkout): textbook
statistics, [PK]: Brunner & Munzel 2000; Scholz & Stephens 1987
(A2akN, the midrank/tie-aware k-sample Anderson-Darling, k=2);
Machanavajjhala et al. 2007 (l-diversity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql, r6, r6_sql, safe_div, \
    safe_div_sql, safe_sqrt, safe_sqrt_sql
from .registry import query


# Shared two-sample construction (agg_mannwhitney_u convention):
# sample X = 'click' events, sample Y = everything else, NaN≡missing.
_PV_SQL = """
v AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
pv AS (
  SELECT value, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(grp) AS BIGINT) AS c1
  FROM v GROUP BY value)
"""


def _pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distinct-value histogram (value, c, c1): total multiplicity
    and sample-X multiplicity. One map-side-combinable aggregate —
    everything downstream is value-cardinality-sized."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select(F.when(F.col("event_type") == "click", 1).otherwise(0)
                   .alias("grp"), "value"))
    return v.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("grp").cast("long").alias("c1"))


# ---------------------------------------------------------------------------
# Brunner-Munzel test
# ---------------------------------------------------------------------------

_BM_VX = "nx * devx / (nx - 1.0)"
_BM_VY = "ny * devy / (ny - 1.0)"
_BM_W = safe_div_sql(
    "nx * ny * (my - mx)",
    f"(nx + ny) * {safe_sqrt_sql(f'{_BM_VX} + {_BM_VY}')}")
_BM_DF = safe_div_sql(
    f"POWER({_BM_VX} + {_BM_VY}, 2)",
    f"POWER({_BM_VX}, 2) / (nx - 1.0) + POWER({_BM_VY}, 2) / (ny - 1.0)")


@query("stat_brunner_munzel", oracle=f"""
WITH {_PV_SQL.strip()},
cum AS (
  SELECT value, c, c1, c - c1 AS c0,
         COALESCE(SUM(c) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS before,
         COALESCE(SUM(c1) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS before1,
         COALESCE(SUM(c - c1) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS before0
  FROM pv),
mr AS (
  SELECT c, c1, c0,
         CAST(before AS DOUBLE) + (CAST(c AS DOUBLE) + 1.0) / 2.0 AS m,
         CAST(before1 AS DOUBLE) + (CAST(c1 AS DOUBLE) + 1.0) / 2.0 AS w1,
         CAST(before0 AS DOUBLE) + (CAST(c0 AS DOUBLE) + 1.0) / 2.0 AS w0
  FROM cum),
n AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS nx, CAST(SUM(c0) AS BIGINT) AS ny,
         {dsum_sql('c1 * m')} AS r1, {dsum_sql('c0 * m')} AS r0
  FROM mr),
s AS (
  SELECT n.nx, n.ny, n.r1 / n.nx AS mx, n.r0 / n.ny AS my,
         {dsum_sql('c1 * POWER(m - w1 - n.r1 / n.nx'
                   ' + (CAST(n.nx AS DOUBLE) + 1.0) / 2.0, 2)')} AS devx,
         {dsum_sql('c0 * POWER(m - w0 - n.r0 / n.ny'
                   ' + (CAST(n.ny AS DOUBLE) + 1.0) / 2.0, 2)')} AS devy
  FROM mr, n GROUP BY n.nx, n.ny, n.r1, n.r0)
SELECT nx, ny,
  {r6_sql('(my - mx) / (nx + ny) + 0.5')} AS p_hat,
  {r6_sql(_BM_W)} AS w,
  {r6_sql(_BM_DF)} AS df
FROM s
""")
def stat_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRUNNER-MUNZEL TEST [PK — Brunner & Munzel 2000]: the
    rank-based two-sample test of the relative effect p = P(X<Y) +
    ½P(X=Y) that, unlike Mann-Whitney, does NOT assume equal variances
    or equal shapes under H0 — the test modern guidance prefers
    whenever the two groups can differ in spread. Emits the relative
    effect p̂, the studentized statistic W, and the Welch-style
    Satterthwaite df. Construction: combined midranks AND within-group
    midranks both come from the distinct-value histogram (combined:
    one aggregate-bounded cumulative window; within-group: the same
    identity per sample from its own cumulative counts — no
    partitioned raw-row window either); the per-sample deviation sums
    S_i collapse to Σ_v c_iv·(m_v − w_iv − R̄_i + (n_i+1)/2)² over
    distinct values because every tied row shares both midranks.
    Sums exact through DECIMAL(38,12); W and df guarded by
    safe_div/safe_sqrt for the constant-sample degenerate."""
    pv = _pv(spark, sf_dir)
    wc = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    c, c1 = F.col("c"), F.col("c1")
    c0 = (c - c1).alias("c0")
    cum = pv.select(
        "value", c, c1, c0,
        F.coalesce(F.sum(c).over(wc), F.lit(0)).alias("before"),
        F.coalesce(F.sum(c1).over(wc), F.lit(0)).alias("before1"),
        F.coalesce(F.sum(c - c1).over(wc), F.lit(0)).alias("before0"))
    mr = cum.select(
        c, c1, F.col("c0"),
        (F.col("before").cast("double") + (c.cast("double") + 1.0) / 2.0)
        .alias("m"),
        (F.col("before1").cast("double") + (c1.cast("double") + 1.0) / 2.0)
        .alias("w1"),
        (F.col("before0").cast("double")
         + (F.col("c0").cast("double") + 1.0) / 2.0).alias("w0"))
    n = mr.agg(F.sum(c1).cast("long").alias("nx"),
               F.sum("c0").cast("long").alias("ny"),
               dsum(c1 * F.col("m")).alias("r1"),
               dsum(F.col("c0") * F.col("m")).alias("r0"))
    j = mr.crossJoin(F.broadcast(n))
    nx_d = F.col("nx").cast("double")
    ny_d = F.col("ny").cast("double")
    mx = F.col("r1") / nx_d
    my = F.col("r0") / ny_d
    s = j.groupBy("nx", "ny", "r1", "r0").agg(
        dsum(c1 * F.pow(F.col("m") - F.col("w1") - mx
                        + (nx_d + 1.0) / 2.0, F.lit(2.0))).alias("devx"),
        dsum(F.col("c0") * F.pow(F.col("m") - F.col("w0") - my
                                 + (ny_d + 1.0) / 2.0, F.lit(2.0)))
        .alias("devy"))
    vx = nx_d * F.col("devx") / (nx_d - 1.0)
    vy = ny_d * F.col("devy") / (ny_d - 1.0)
    return s.select(
        "nx", "ny",
        r6((my - mx) / (nx_d + ny_d) + 0.5).alias("p_hat"),
        r6(safe_div(nx_d * ny_d * (my - mx),
                    (nx_d + ny_d) * safe_sqrt(vx + vy))).alias("w"),
        r6(safe_div(F.pow(vx + vy, F.lit(2.0)),
                    F.pow(vx, F.lit(2.0)) / (nx_d - 1.0)
                    + F.pow(vy, F.lit(2.0)) / (ny_d - 1.0))).alias("df"))


# ---------------------------------------------------------------------------
# Two-sample Anderson-Darling (tie-aware midrank version)
# ---------------------------------------------------------------------------

_AD_DEN = "bj * (nn - bj) - nn * c / 4.0"
_AD_T1 = (safe_div_sql("(c / nn) * POWER(nn * m1j - n1 * bj, 2)", _AD_DEN)
          + " / n1")
_AD_T0 = (safe_div_sql("(c / nn) * POWER(nn * m0j - n0 * bj, 2)", _AD_DEN)
          + " / n0")


@query("stat_anderson_darling_2samp", oracle=f"""
WITH {_PV_SQL.strip()},
cum AS (
  SELECT c, c1, c - c1 AS c0,
         SUM(c) OVER (ORDER BY value) - CAST(c AS DOUBLE) / 2.0 AS bj,
         SUM(c1) OVER (ORDER BY value) - CAST(c1 AS DOUBLE) / 2.0 AS m1j,
         SUM(c - c1) OVER (ORDER BY value)
           - CAST(c - c1 AS DOUBLE) / 2.0 AS m0j
  FROM pv),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1) + SUM(c0) AS DOUBLE) AS nn,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM cum),
terms AS (
  SELECT n.n1, n.n0, n.l,
    {dsum_sql(_AD_T1)} AS t1,
    {dsum_sql(_AD_T0)} AS t0,
    MAX(nn) AS nn
  FROM cum, n GROUP BY n.n1, n.n0, n.l)
SELECT n1, n0, l,
       {r6_sql('(nn - 1.0) / nn * (t1 + t0)')} AS a2akn
FROM terms
""")
def stat_anderson_darling_2samp(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TWO-SAMPLE ANDERSON-DARLING, tie-aware midrank version [PK —
    Scholz & Stephens 1987, A²akN with k=2]: the EDF test that weights
    the tails more heavily than Kolmogorov-Smirnov (agg_ks_2sample's
    sup-norm misses tail-only departures this integral statistic
    catches). Computed entirely on the distinct-value histogram: with
    B_j and M_ij as the midpoint-adjusted cumulative counts
    (cum − l_j/2, the midrank convention), A² = (N−1)/N ·
    Σ_i (1/n_i) Σ_j (l_j/N)(N·M_ij − n_i·B_j)² /
    (B_j(N−B_j) − N·l_j/4). The cumulative window runs above the
    per-value aggregate (value-cardinality-bounded, the MWU/KW scale
    shape); the single-distinct-value degenerate (denominator 0) is
    guarded to NULL on both engines. Emits n1, n0, the distinct-value
    count L, and A²akN at 6 dp; a numpy reference implementation pins
    the formula in tests."""
    pv = _pv(spark, sf_dir)
    wc = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    c, c1 = F.col("c"), F.col("c1")
    cum = pv.select(
        c, c1, (c - c1).alias("c0"),
        (F.sum(c).over(wc) - c.cast("double") / 2.0).alias("bj"),
        (F.sum(c1).over(wc) - c1.cast("double") / 2.0).alias("m1j"),
        (F.sum(c - c1).over(wc)
         - (c - c1).cast("double") / 2.0).alias("m0j"))
    n = cum.agg(F.sum(c1).cast("long").alias("n1"),
                F.sum("c0").cast("long").alias("n0"),
                (F.sum(c1) + F.sum("c0")).cast("double").alias("nn"),
                F.count(F.lit(1)).alias("l"))
    j = cum.crossJoin(F.broadcast(n))
    nn = F.col("nn")
    den = F.col("bj") * (nn - F.col("bj")) - nn * c / 4.0
    t1 = safe_div((c / nn) * F.pow(nn * F.col("m1j")
                                   - F.col("n1") * F.col("bj"),
                                   F.lit(2.0)), den) / F.col("n1")
    t0 = safe_div((c / nn) * F.pow(nn * F.col("m0j")
                                   - F.col("n0") * F.col("bj"),
                                   F.lit(2.0)), den) / F.col("n0")
    terms = j.groupBy("n1", "n0", "l").agg(
        dsum(t1).alias("t1"), dsum(t0).alias("t0"), F.max(nn).alias("nn"))
    return terms.select(
        "n1", "n0", "l",
        r6((F.col("nn") - 1.0) / F.col("nn")
           * (F.col("t1") + F.col("t0"))).alias("a2akn"))


# ---------------------------------------------------------------------------
# Top-k accuracy (recommender eval)
# ---------------------------------------------------------------------------

_SPLIT = "(event_id % 1000003) * 2654435761 % 1000003 % 5"


@query("ml_topk_accuracy", oracle=f"""
WITH sp AS (
  SELECT user_id, event_type,
         CASE WHEN {_SPLIT} < 4 THEN 1 ELSE 0 END AS is_train
  FROM events),
tr AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM sp WHERE is_train = 1 GROUP BY user_id, event_type),
pred AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type) AS rk
  FROM tr),
te AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM sp WHERE is_train = 0 GROUP BY user_id, event_type),
truth AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY c DESC, event_type) AS rk
    FROM te) WHERE rk = 1),
hits AS (
  SELECT t.user_id,
         MAX(CASE WHEN p.rk = 1 THEN 1 ELSE 0 END) AS hit1,
         MAX(CASE WHEN p.rk <= 3 THEN 1 ELSE 0 END) AS hit3
  FROM truth t JOIN pred p
    ON p.user_id = t.user_id AND p.event_type = t.event_type
  GROUP BY t.user_id),
base AS (SELECT DISTINCT t.user_id FROM truth t
         WHERE EXISTS (SELECT 1 FROM pred p WHERE p.user_id = t.user_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(h.hit1), 0) AS DOUBLE) / COUNT(*) AS acc_at_1,
       CAST(COALESCE(SUM(h.hit3), 0) AS DOUBLE) / COUNT(*) AS acc_at_3
FROM base b LEFT JOIN hits h ON h.user_id = b.user_id
""")
def ml_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K ACCURACY of a popularity recommender under a
    deterministic 80/20 hash split [PK — standard recommender eval;
    split hash is the house (event_id % p)·φ % p % 5 convention]: per
    user, rank event types by TRAIN-split frequency (ties → type asc),
    take the TEST-split modal type as truth, and measure how often
    truth lands in the top-1 / top-3 predictions over users present in
    both splits. The hit probe joins truth to predictions on (user,
    type) — the truth row either meets its prediction rank or the user
    scores 0 via the LEFT join from the eligible-user base, so absent
    predictions can't silently shrink the denominator. Accuracies are
    ratios of small integers (identical IEEE division — emitted
    unrounded, win_vwap convention). Scale: two hash aggregates +
    per-user windows (partitioned), one equi-join; nothing global."""
    ev = load_table(spark, sf_dir, "events")
    sp = ev.select(
        "user_id", "event_type",
        F.when(F.expr(_SPLIT) < 4, 1).otherwise(0).alias("is_train"))
    tr = (sp.filter(F.col("is_train") == 1)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("c")))
    wp = W.partitionBy("user_id").orderBy(F.desc("c"), "event_type")
    pred = tr.select("user_id", "event_type",
                     F.row_number().over(wp).alias("rk"))
    te = (sp.filter(F.col("is_train") == 0)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("c")))
    truth = (te.select("user_id", "event_type",
                       F.row_number().over(wp).alias("rk"))
               .filter(F.col("rk") == 1).drop("rk"))
    hits = (truth.join(pred, ["user_id", "event_type"])
                 .groupBy("user_id")
                 .agg(F.max(F.when(F.col("rk") == 1, 1).otherwise(0))
                      .alias("hit1"),
                      F.max(F.when(F.col("rk") <= 3, 1).otherwise(0))
                      .alias("hit3")))
    base = truth.join(pred.select("user_id").distinct(), "user_id",
                      "left_semi").select("user_id").distinct()
    out = (base.join(hits, "user_id", "left")
               .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                    F.coalesce(F.sum("hit1"), F.lit(0)).cast("double")
                    .alias("s1"),
                    F.coalesce(F.sum("hit3"), F.lit(0)).cast("double")
                    .alias("s3")))
    return out.select(
        "n_users",
        (F.col("s1") / F.col("n_users")).alias("acc_at_1"),
        (F.col("s3") / F.col("n_users")).alias("acc_at_3"))


# ---------------------------------------------------------------------------
# l-diversity audit
# ---------------------------------------------------------------------------

@query("audit_l_diversity", oracle="""
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
            AS BIGINT) AS l_distinct,
       COALESCE(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                >= 3, FALSE) AS l3_ok
FROM customer
GROUP BY c_nationkey, c_mktsegment
""")
def audit_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY AUDIT [PK — Machanavajjhala et al. 2007], the
    release-gate companion to audit_k_anonymity: k-anonymity only
    bounds GROUP SIZE, so a quasi-identifier group where every member
    shares the same sensitive value still leaks it (the homogeneity
    attack); distinct l-diversity additionally requires ≥ l distinct
    sensitive values per QI group. QI = (nation, market segment),
    sensitive = the account-balance band (1000-unit floor — FLOOR of
    an exact /1000.0 is engine-identical for these 2-dp balances).
    Emits EVERY QI group with its size, distinct-band count, and the
    l=3 verdict (COALESCEd boolean — house rule, never NULL), not just
    violators — an all-pass fixture must still hash real rows (the
    vacuous-oracle lesson). One hash aggregate; output is
    |QI domain|-bounded."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    return (c.groupBy("c_nationkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.countDistinct(band).cast("long").alias("l_distinct"))
             .select("c_nationkey", "c_mktsegment", "n", "l_distinct",
                     F.coalesce(F.col("l_distinct") >= 3, F.lit(False))
                     .alias("l3_ok")))
