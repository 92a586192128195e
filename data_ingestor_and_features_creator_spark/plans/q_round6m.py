"""Round-6m operator additions: inference preconditions, volatility
estimators, and two more leakage-safe training primitives.

Brown–Forsythe variance-equality (the precondition ANOVA assumes),
Jarque–Bera normality (the precondition t-tests assume), Parkinson
high-low volatility, the Ulcer drawdown-risk index, CART Gini split
gain (feature screening), and a chronological train/val/test split
with data-driven time edges. Each is the textbook construction on
the exact toolkit: order statistics by the discrete-rank spelling,
raw-moment sums fully string-routed where cancelling differences
follow, logs pinned 9 dp, constants written as literals.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — Brown & Forsythe 1974;
Jarque & Bera 1980; Parkinson 1980; Martin & McCann 1989 (Ulcer);
CART Gini is Breiman et al. 1984; chronological splits are
time-series CV canon).

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import (
    DEC,
    dsum,
    dsum_sql,
    dsum_str,
    dsum_str_sql,
    ln9,
    r6,
    r6_sql,
    safe_sqrt,
    safe_sqrt_sql,
)
from .registry import query


_INV_4LN2 = "0.3606737602222409"  # 1/(4·ln 2), pinned literal (Parkinson)


# ---------------------------------------------------------------------------
# Brown–Forsythe variance-equality test
# ---------------------------------------------------------------------------

_LEVENE_SQL = f"""
WITH v AS (
  SELECT event_type, value, event_id FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM v),
med AS (
  SELECT event_type, MAX(value) AS med
  FROM r WHERE rk = (cnt + 1) // 2 GROUP BY event_type),
z AS (
  SELECT v.event_type, abs(v.value - med.med) AS z
  FROM v JOIN med ON v.event_type = med.event_type),
g AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS ni,
         {dsum_str_sql('z')} AS si, {dsum_str_sql('z * z')} AS qi
  FROM z GROUP BY event_type),
t AS (
  SELECT CAST(SUM(CAST(ni AS BIGINT)) AS DOUBLE) AS n,
         CAST(COUNT(*) AS DOUBLE) AS k,
         {dsum_str_sql('si')} AS s, {dsum_str_sql('qi')} AS q,
         {dsum_str_sql('si * si / ni')} AS sb
  FROM g)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       {r6_sql('((sb - s * s / n) / (k - 1.0))'
               ' / ((q - sb) / (n - k))')} AS bf_stat
FROM t
"""


@query("stat_levene_test", oracle=_LEVENE_SQL)
def stat_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN–FORSYTHE variance-equality test [PK — Brown & Forsythe
    1974; Levene's test with MEDIAN centers, the robust form]: the
    precondition stat_anova_oneway silently assumes — one-way ANOVA
    F computed on zᵢⱼ = |xᵢⱼ − medianᵢ|. Group medians use the
    DISCRETE lower-median rank spelling ((n+1)//2 — an actual data
    value, deterministic via the (value, event_id) tiebreak, no
    interpolation convention); the ANOVA layer reuses the fully
    string-routed sums of stat_anova_oneway (SS_between is the same
    cancelling difference). Scale: one per-group rank window, a
    k-row broadcast median join, two stacked aggregates."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    v = ev.select("event_type", "value", "event_id")
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    r = v.select("event_type", "value",
                 F.row_number().over(wr).alias("rk"),
                 F.count(F.lit(1)).over(W.partitionBy("event_type"))
                  .alias("cnt"))
    med = (r.filter(F.expr("rk = (cnt + 1) div 2"))
            .groupBy("event_type").agg(F.max("value").alias("med")))
    z = (v.join(F.broadcast(med), "event_type")
          .select("event_type",
                  F.abs(F.col("value") - F.col("med")).alias("z")))
    zc = F.col("z")
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("ni"),
        dsum_str(zc).alias("si"), dsum_str(zc * zc).alias("qi"))
    ni, si = F.col("ni"), F.col("si")
    t = g.agg(F.sum(ni.cast("long")).cast("double").alias("n"),
              F.count(F.lit(1)).cast("double").alias("k"),
              dsum_str(si).alias("s"), dsum_str(F.col("qi")).alias("q"),
              dsum_str(si * si / ni).alias("sb"))
    n, k = F.col("n"), F.col("k")
    s, q, sb = F.col("s"), F.col("q"), F.col("sb")
    bf = ((sb - s * s / n) / (k - 1.0)) / ((q - sb) / (n - k))
    return t.select(n.cast("long").alias("n"), k.cast("long").alias("k"),
                    r6(bf).alias("bf_stat"))


# ---------------------------------------------------------------------------
# Jarque–Bera normality test
# ---------------------------------------------------------------------------

_JB_SQL = f"""
WITH v AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
g AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_str_sql('value')} AS s1,
         {dsum_str_sql('value * value')} AS s2,
         {dsum_str_sql('value * value * value')} AS s3,
         {dsum_str_sql('value * value * value * value')} AS s4
  FROM v GROUP BY event_type),
m AS (
  SELECT event_type, n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n)
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n)
           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM g)
SELECT event_type, CAST(n AS BIGINT) AS n,
       {r6_sql('m3 / (m2 * ' + safe_sqrt_sql('m2') + ')')} AS skewness,
       {r6_sql('m4 / (m2 * m2) - 3.0')} AS excess_kurtosis,
       {r6_sql('n * ((m3 / (m2 * ' + safe_sqrt_sql('m2') + '))'
               ' * (m3 / (m2 * ' + safe_sqrt_sql('m2') + ')) / 6.0'
               ' + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)'
               ' / 24.0)')} AS jb_stat,
       COALESCE(n * ((m3 / (m2 * {safe_sqrt_sql('m2')}))
                     * (m3 / (m2 * {safe_sqrt_sql('m2')})) / 6.0
                     + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                     / 24.0) > 5.991, false) AS reject_normal
FROM m ORDER BY event_type
"""


@query("stat_jarque_bera", oracle=_JB_SQL)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE–BERA normality test per group [PK — Jarque & Bera
    1980]: JB = n·(S²/6 + K²/24) from sample skewness and excess
    kurtosis, flagged at the χ²(2) 5% critical value 5.991 — the
    precondition check behind every t-based interval in the repo.
    Central moments are assembled from RAW power sums (Σx..Σx⁴),
    each fully string-routed: the m₂/m₃/m₄ expansions are exactly
    the cancelling-difference regime (Σx⁴ ~ e10 cancelling to m₄ ~
    e4) where dsum's direct-cast half-ulp would survive into the
    output (the stat_anova_oneway lesson). x⁴ ≤ ~1.2e10 stays inside
    dsum_str's per-row string-cast domain. Boolean flag COALESCEd
    (house rule). Scale: ONE map-side-combined aggregate per group —
    one scan, constant output."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    x = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_str(x).alias("s1"), dsum_str(x * x).alias("s2"),
        dsum_str(x * x * x).alias("s3"),
        dsum_str(x * x * x * x).alias("s4"))
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (F.col("s4") / n - 4 * mu * (F.col("s3") / n)
          + 6 * mu * mu * (F.col("s2") / n) - 3 * mu * mu * mu * mu)
    m = g.select("event_type", n.alias("n"), m2.alias("m2"),
                 m3.alias("m3"), m4.alias("m4"))
    skew = F.col("m3") / (F.col("m2") * safe_sqrt(F.col("m2")))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0
    jb = F.col("n") * (skew * skew / 6.0 + kurt * kurt / 24.0)
    return (m.select("event_type", F.col("n").cast("long").alias("n"),
                     r6(skew).alias("skewness"),
                     r6(kurt).alias("excess_kurtosis"),
                     r6(jb).alias("jb_stat"),
                     F.coalesce(jb > 5.991, F.lit(False))
                      .alias("reject_normal"))
             .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Parkinson high-low volatility
# ---------------------------------------------------------------------------

_PARKINSON_SQL = f"""
WITH bars AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         MAX(value) AS high, MIN(value) AS low
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY user_id, date_trunc('day', ts)),
lhl AS (
  SELECT user_id, day,
         ROUND(ln(high / low), 9) * ROUND(ln(high / low), 9) AS hl2
  FROM bars WHERE low > 0),
w AS (
  SELECT user_id, day,
         CAST(SUM(CAST(hl2 AS DECIMAL(38,12))) OVER f AS DOUBLE) AS s,
         COUNT(*) OVER f AS n_win
  FROM lhl WINDOW f AS (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, day,
       {r6_sql(f"{safe_sqrt_sql(f'{_INV_4LN2} * s / 14.0')}")}
         AS parkinson_vol
FROM w WHERE n_win = 14 ORDER BY user_id, day
"""


@query("win_parkinson_volatility", oracle=_PARKINSON_SQL)
def win_parkinson_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARKINSON VOLATILITY [PK — Parkinson 1980]: the high-low range
    estimator √(1/(4ln2)·mean(ln(h/l)²)) over a 14-day window — ~5×
    more statistically efficient than close-to-close variance because
    each bar's whole intraday range informs it; the range-based
    member of the volatility suite (ATR absolute, Bollinger σ,
    envelope order-stats). ln(h/l) is pinned 9 dp ONCE and squared
    (pinned·pinned is exact IEEE), DECIMAL-summed; 1/(4ln2) is a
    pinned literal so neither engine derives it from libm. Scale: the
    day-bar aggregate collapses events before any window; one
    per-user sort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    day = F.date_trunc("day", F.col("ts"))
    bars = (ev.groupBy("user_id", day.alias("day"))
              .agg(F.max("value").alias("high"), F.min("value").alias("low"))
              .filter(F.col("low") > 0))
    lhl9 = ln9(F.col("high") / F.col("low"))
    lhl = bars.select("user_id", "day", (lhl9 * lhl9).alias("hl2"))
    wf = (W.partitionBy("user_id").orderBy("day")
           .rowsBetween(-13, 0))
    w = lhl.select("user_id", "day",
                   F.sum(F.col("hl2").cast(DEC)).over(wf).cast("double")
                    .alias("s"),
                   F.count(F.lit(1)).over(wf).alias("n_win"))
    vol = safe_sqrt(F.lit(float(_INV_4LN2)) * F.col("s") / 14.0)
    return (w.filter(F.col("n_win") == 14)
             .select("user_id", "day", r6(vol).alias("parkinson_vol"))
             .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# Ulcer index (drawdown risk)
# ---------------------------------------------------------------------------

_ULCER_SQL = f"""
WITH r AS (
  SELECT user_id, event_id, ts, value,
         MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run_max
  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0),
d AS (
  SELECT user_id, event_id, ts,
         (100.0 * (value - run_max) / run_max)
           * (100.0 * (value - run_max) / run_max) AS dd2
  FROM r),
w AS (
  SELECT user_id, event_id,
         CAST(SUM(CAST(dd2 AS DECIMAL(38,12))) OVER f AS DOUBLE) AS s,
         COUNT(*) OVER f AS n_win
  FROM d WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id,
       {r6_sql(safe_sqrt_sql('s / 14.0'))} AS ulcer_index
FROM w WHERE n_win = 14 ORDER BY user_id, event_id
"""


@query("win_ulcer_index", oracle=_ULCER_SQL)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULCER INDEX [PK — Martin & McCann 1989]: √(mean of squared
    percentage drawdowns) over a 14-row window — the depth-AND-
    duration drawdown risk measure (win_drawdown reports the max;
    the Ulcer index charges for every period spent below the peak,
    which max-drawdown ignores). Drawdown% is pure IEEE of identical
    doubles (value vs running max — both exact passthroughs), its
    square DECIMAL-summed. Scale: running max + sliding frame share
    one per-user sort — single exchange, two Window passes."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
        & (F.col("value") > 0))
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    run_max = F.max("value").over(ws.rowsBetween(W.unboundedPreceding, 0))
    r = ev.select("user_id", "event_id", "ts", "value",
                  run_max.alias("run_max"))
    ddp = 100.0 * (F.col("value") - F.col("run_max")) / F.col("run_max")
    d = r.select("user_id", "event_id", "ts", (ddp * ddp).alias("dd2"))
    wf = ws.rowsBetween(-13, 0)
    w = d.select("user_id", "event_id",
                 F.sum(F.col("dd2").cast(DEC)).over(wf).cast("double")
                  .alias("s"),
                 F.count(F.lit(1)).over(wf).alias("n_win"))
    return (w.filter(F.col("n_win") == 14)
             .select("user_id", "event_id",
                     r6(safe_sqrt(F.col("s") / 14.0)).alias("ulcer_index"))
             .orderBy("user_id", "event_id"))


# ---------------------------------------------------------------------------
# CART Gini split gain over candidate thresholds
# ---------------------------------------------------------------------------

_GINI_SQL = """
WITH base AS (
  SELECT value,
         CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END AS y,
         event_id
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
ranked AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rk,
         COUNT(*) OVER () AS n
  FROM base),
edges AS (
  SELECT 1 AS split_rank,
         MAX(CASE WHEN rk = CAST(CEIL(0.25 * n) AS BIGINT)
                  THEN value END) AS thr FROM ranked
  UNION ALL
  SELECT 2, MAX(CASE WHEN rk = CAST(CEIL(0.50 * n) AS BIGINT)
                     THEN value END) FROM ranked
  UNION ALL
  SELECT 3, MAX(CASE WHEN rk = CAST(CEIL(0.75 * n) AS BIGINT)
                     THEN value END) FROM ranked),
c AS (
  SELECT e.split_rank, e.thr,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(b.y) AS DOUBLE) AS pos,
         CAST(SUM(CASE WHEN b.value <= e.thr THEN 1 ELSE 0 END)
              AS DOUBLE) AS nl,
         CAST(SUM(CASE WHEN b.value <= e.thr THEN b.y ELSE 0 END)
              AS DOUBLE) AS posl
  FROM base b, edges e GROUP BY e.split_rank, e.thr)
SELECT split_rank, thr,
       CAST(nl AS BIGINT) AS n_left, CAST(n - nl AS BIGINT) AS n_right,
       ROUND(
         (2.0 * (pos / n) * (1.0 - pos / n))
         - (nl / n) * (2.0 * (posl / nl) * (1.0 - posl / nl))
         - ((n - nl) / n) * (2.0 * ((pos - posl) / (n - nl))
                             * (1.0 - (pos - posl) / (n - nl))), 6)
         AS gini_gain
FROM c ORDER BY split_rank
"""


@query("agg_gini_split_gain", oracle=_GINI_SQL)
def agg_gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART GINI SPLIT GAIN [PK — Breiman et al. 1984]: for each
    candidate threshold (the value quartiles, by the discrete-rank
    spelling), the impurity reduction 2p(1−p) of the parent minus
    the size-weighted child impurities — the one-feature screening
    pass a distributed tree trainer runs per candidate split. Every
    input is an exact count rational; the gain is one identical
    double expression, 6 dp. Scale (round 9, replacing the raw-row
    rank window): the ⌈q·n⌉-th order statistic depends only on the
    PER-VALUE histogram — group by value (map-side combinable),
    cumulative counts over the distinct-value table (window above
    the aggregate), and the edge is the value whose cumulative span
    covers the target rank; then ONE conditional aggregate per
    threshold over a 3-row broadcast — the fan-out is 3×, never
    |thresholds| scans."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    y = F.when(F.col("event_type").isin("click", "purchase"), 1).otherwise(0)
    base = ev.select("value", y.alias("y"), "event_id")
    hist = base.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    w_cum = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = (hist.withColumn("before",
                           F.coalesce(F.sum("c").over(w_cum), F.lit(0)))
               .crossJoin(F.broadcast(
                   base.agg(F.count(F.lit(1)).alias("n")))))
    before, cc, nn = F.col("before"), F.col("c"), F.col("n")

    def _edge(q: float):
        k = F.ceil(q * nn)
        return F.max(F.when((before < k) & (before + cc >= k),
                            F.col("value")))

    wide = cum.agg(_edge(0.25).alias("t1"), _edge(0.50).alias("t2"),
                   _edge(0.75).alias("t3"))
    # one edge aggregate, unpivoted — three separate aggs would re-run
    # the rank window (and its sort) once per threshold
    edges = wide.select(F.expr(
        "stack(3, 1, t1, 2, t2, 3, t3) AS (split_rank, thr)"))
    c = (base.crossJoin(F.broadcast(edges))
             .groupBy("split_rank", "thr")
             .agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.sum("y").cast("double").alias("pos"),
                  F.sum(F.when(F.col("value") <= F.col("thr"), 1)
                         .otherwise(0)).cast("double").alias("nl"),
                  F.sum(F.when(F.col("value") <= F.col("thr"), F.col("y"))
                         .otherwise(0)).cast("double").alias("posl")))
    n, pos = F.col("n"), F.col("pos")
    nl, posl = F.col("nl"), F.col("posl")
    gp = 2.0 * (pos / n) * (1.0 - pos / n)
    gl = 2.0 * (posl / nl) * (1.0 - posl / nl)
    gr = (2.0 * ((pos - posl) / (n - nl))
          * (1.0 - (pos - posl) / (n - nl)))
    gain = gp - (nl / n) * gl - ((n - nl) / n) * gr
    return (c.select("split_rank", "thr",
                     nl.cast("long").alias("n_left"),
                     (n - nl).cast("long").alias("n_right"),
                     F.round(gain, 6).alias("gini_gain"))
             .orderBy("split_rank"))


# ---------------------------------------------------------------------------
# Chronological train/val/test split
# ---------------------------------------------------------------------------

_CHRONO_SQL = """
WITH e AS (
  SELECT event_id, epoch_us(ts) AS t FROM events),
d AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY t),
cum AS (
  SELECT t, SUM(c) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cc,
         (SELECT SUM(c) FROM d) AS n
  FROM d),
edges AS (
  SELECT MIN(CASE WHEN cc * 10 >= n * 7 THEN t END) AS t70,
         MIN(CASE WHEN cc * 10 >= n * 9 THEN t END) AS t90
  FROM cum),
tagged AS (
  SELECT CASE WHEN e.t <= x.t70 THEN 'train'
              WHEN e.t <= x.t90 THEN 'val' ELSE 'test' END AS split,
         e.t
  FROM e, edges x)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(t) AS BIGINT) AS lo_us, CAST(MAX(t) AS BIGINT) AS hi_us
FROM tagged GROUP BY split ORDER BY split
"""


@query("data_chronological_split", oracle=_CHRONO_SQL)
def data_chronological_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHRONOLOGICAL 70/20/10 train/val/test split [PK — time-series
    CV canon: random splits leak the future into training; the
    temporal cut is the honest protocol]: edges are the FIRST
    timestamps where the cumulative row count reaches 70% / 90%,
    computed on the DISTINCT-timestamp table (the stat_kruskal_wallis
    collapse — the cumulative window runs over |distinct ts| rows,
    never |rows|) with pure-integer comparisons (cc·10 ≥ n·7 — no
    float quantile convention). Output is the per-split contingency
    with integer epoch-µs bounds: train.hi < val.lo < test.lo proves
    zero temporal leakage, checkably. Scale: one distinct-ts
    aggregate, a tiny window, a 1-row broadcast edge join, one
    final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", F.unix_micros("ts").alias("t"))
    d = e.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    ntot = d.agg(F.sum("c").alias("n"))
    cum = (d.select("t", F.sum("c").over(wcum).alias("cc"))
            .crossJoin(F.broadcast(ntot)))
    cc, n = F.col("cc"), F.col("n")
    edges = cum.agg(
        F.min(F.when(cc * 10 >= n * 7, F.col("t"))).alias("t70"),
        F.min(F.when(cc * 10 >= n * 9, F.col("t"))).alias("t90"))
    tagged = (e.crossJoin(F.broadcast(edges))
               .select(F.when(F.col("t") <= F.col("t70"), "train")
                        .when(F.col("t") <= F.col("t90"), "val")
                        .otherwise("test").alias("split"), "t"))
    return (tagged.groupBy("split")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.min("t").alias("lo_us"), F.max("t").alias("hi_us"))
                  .orderBy("split"))
