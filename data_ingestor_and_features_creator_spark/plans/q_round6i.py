"""Round-6i operator additions: multi-group inference, interval
estimates, and the trader's window toolkit part 2.

One-way ANOVA and Kruskal-Wallis extend the two-sample tests
(agg_welch_ttest, agg_mannwhitney_u) to k groups; the Wilson score
interval is the proportion CI every dashboard should use instead of
the Wald interval; the growth index compounds log-returns with the
round-6 pinned-log discipline; ATR is the volatility companion to
win_rolling_envelope/win_bollinger; QUALIFY and systematic sampling
pin two portability semantics.

All on the exact-arithmetic toolkit (functions/exact.py): counts and
midranks are exact rationals, sums run through DECIMAL(38,12), libm
is evaluated once per row and pinned to 9 dp before any sum, and the
final statistic is one identical double expression per engine
rounded to 6 dp.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — textbook statistics:
Fisher's ANOVA 1925, Kruskal & Wallis 1952, Wilson 1927; ATR is
Wilder 1978; QUALIFY is the Teradata/DuckDB/Snowflake SQL extension;
systematic sampling is survey-statistics canon).

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
)
from .registry import query


# stat_anova_oneway's string-routed sums were promoted to
# functions/exact.py as dsum_str/dsum_str_sql (round 6); the local
# aliases keep the oracle f-strings below readable.
_dsum_str = dsum_str
_dsum_str_sql = dsum_str_sql


# ---------------------------------------------------------------------------
# One-way ANOVA (F statistic + eta-squared)
# ---------------------------------------------------------------------------

_ANOVA_SQL = f"""
WITH v AS (
  SELECT CASE (event_id % 1000003) * 2654435761 % 1000003 % 3
         WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' END AS variant,
         value
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
g AS (
  SELECT variant, CAST(COUNT(*) AS DOUBLE) AS ni,
         {_dsum_str_sql('value')} AS si, {_dsum_str_sql('value * value')} AS qi
  FROM v GROUP BY variant),
t AS (
  SELECT CAST(SUM(CAST(ni AS BIGINT)) AS DOUBLE) AS n,
         CAST(COUNT(*) AS DOUBLE) AS k,
         {_dsum_str_sql('si')} AS s, {_dsum_str_sql('qi')} AS q,
         {_dsum_str_sql('si * si / ni')} AS sb
  FROM g)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       {r6_sql('sb - s * s / n')} AS ss_between,
       {r6_sql('q - sb')} AS ss_within,
       {r6_sql('((sb - s * s / n) / (k - 1.0))'
               ' / ((q - sb) / (n - k))')} AS f_stat,
       {r6_sql('(sb - s * s / n) / (q - s * s / n)')} AS eta_sq
FROM t
"""


@query("stat_anova_oneway", oracle=_ANOVA_SQL)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA [PK — Fisher 1925]: F = MS_between/MS_within
    across k hash-assigned variants (the 3-arm experiment read that
    agg_welch_ttest's 2-arm form can't give), plus eta² effect size
    — the k-group decomposition SS_total = SS_between + SS_within.
    Everything reduces to per-group (nᵢ, Σx, Σx²) DECIMAL-exact sums;
    the group-level terms sᵢ²/nᵢ are identical doubles per engine and
    re-enter a DECIMAL sum so the k-fold reduction can't drift. Every
    sum is FULLY string-routed (_dsum_str): SS_between is a ~e9 − e9
    cancellation leaving an O(10²) result, so even dsum's half-ulp
    direct-cast quantization (~2e-7 at e9) survives into the 6th dp
    of the difference — observed at the 1M-row blow-up. NaN is
    filtered as missing up front (the nulls-fixture rule) so counts
    and sums stay consistent. Assignment is the portable
    Knuth multiplicative hash (data_split_hash's gate) — any engine
    recomputes the identical arms. Scale: two stacked hash
    aggregates (3-row intermediate), one scan, map-side combined —
    constant-size output at any SF."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    arm = (F.col("event_id") % 1000003) * F.lit(2654435761) % 1000003 % 3
    v = ev.select(
        F.when(arm == 0, "A").when(arm == 1, "B").otherwise("C")
         .alias("variant"),
        "value")
    x = F.col("value")
    g = v.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("ni"),
        _dsum_str(x).alias("si"), _dsum_str(x * x).alias("qi"))
    ni, si = F.col("ni"), F.col("si")
    t = g.agg(F.sum(ni.cast("long")).cast("double").alias("n"),
              F.count(F.lit(1)).cast("double").alias("k"),
              _dsum_str(si).alias("s"), _dsum_str(F.col("qi")).alias("q"),
              _dsum_str(si * si / ni).alias("sb"))
    n, k = F.col("n"), F.col("k")
    s, q, sb = F.col("s"), F.col("q"), F.col("sb")
    ssb = sb - s * s / n
    ssw = q - sb
    f_stat = (ssb / (k - 1.0)) / (ssw / (n - k))
    eta = ssb / (q - s * s / n)
    return t.select(n.cast("long").alias("n"), k.cast("long").alias("k"),
                    r6(ssb).alias("ss_between"), r6(ssw).alias("ss_within"),
                    r6(f_stat).alias("f_stat"), r6(eta).alias("eta_sq"))


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (k-group rank test, tie-corrected)
# ---------------------------------------------------------------------------

_KW_SQL = f"""
WITH v AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
d AS (
  SELECT value, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY value),
mr AS (
  SELECT value, t,
         SUM(t) OVER (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - t + (t + 1) / 2.0 AS midrank
  FROM d),
gv AS (
  SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
  FROM v GROUP BY event_type, value),
r AS (
  SELECT gv.event_type, CAST(SUM(gv.c) AS DOUBLE) AS ni,
         {dsum_sql('gv.c * mr.midrank')} AS ri
  FROM gv JOIN mr ON gv.value = mr.value
  GROUP BY gv.event_type),
agg AS (
  SELECT CAST(SUM(CAST(ni AS BIGINT)) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         {dsum_sql('ri * ri / ni')} AS rr
  FROM r),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum FROM d)
SELECT CAST(n AS BIGINT) AS n, k,
       {r6_sql('12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0)')} AS h,
       {r6_sql('(12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0))'
               ' / (1.0 - CAST(tsum AS DOUBLE) / (n * n * n - n))')}
         AS h_tie_corrected
FROM agg, ties
"""


@query("stat_kruskal_wallis", oracle=_KW_SQL)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H [PK — Kruskal & Wallis 1952]: the k-group
    rank ANOVA (agg_mannwhitney_u's k-sample generalization), with
    the textbook tie correction 1 − Σ(t³−t)/(n³−n). The global
    midranks are NOT computed with a global per-row sort: ranks are
    derived on the DISTINCT-value table (cumcount − t + (t+1)/2 —
    an exact .5-quantized rational) and joined back to per-(group,
    value) counts, so the only unpartitioned window runs over
    |distinct values| rows, not |rows| — the same collapse that
    makes exact ranks feasible at 100 TB when the value domain is
    bounded. Σ(t³−t) stays in BIGINT until the final cast (exact up
    to n ~ 2e6 per distinct value; a double would lose integer
    exactness past 2⁵³). Rᵢ²/nᵢ re-enters a DECIMAL sum for the
    k-fold reduction. Scale: two hash aggregates + one broadcast-
    sized midrank join; output constant-size."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    v = ev.select("event_type", "value")
    d = v.groupBy("value").agg(F.count(F.lit(1)).alias("t"))
    wcum = (W.orderBy("value")
             .rowsBetween(W.unboundedPreceding, 0))
    t = F.col("t")
    mr = d.select("value",
                  (F.sum(t).over(wcum) - t + (t + 1) / 2.0).alias("midrank"))
    gv = v.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    r = (gv.join(mr, "value")
           .groupBy("event_type")
           .agg(F.sum("c").cast("double").alias("ni"),
                dsum(F.col("c") * F.col("midrank")).alias("ri")))
    ni, ri = F.col("ni"), F.col("ri")
    agg = r.agg(F.sum(ni.cast("long")).cast("double").alias("n"),
                F.count(F.lit(1)).alias("k"),
                dsum(ri * ri / ni).alias("rr"))
    tsum = d.agg(F.sum(t * t * t - t).alias("tsum"))
    n, rr = F.col("n"), F.col("rr")
    h = 12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("tsum").cast("double") / (n * n * n - n)
    return (agg.crossJoin(tsum)
               .select(n.cast("long").alias("n"), "k",
                       r6(h).alias("h"),
                       r6(h / corr).alias("h_tie_corrected")))


# ---------------------------------------------------------------------------
# Wilson score interval per group
# ---------------------------------------------------------------------------

_WILSON_SQL = f"""
WITH c AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE)
           AS x
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       {r6_sql('x / n')} AS p_hat,
       {r6_sql('(x / n + 1.9208 / n) / (1.0 + 3.8416 / n)'
               ' - (1.96 / (1.0 + 3.8416 / n))'
               ' * sqrt((x / n) * (1.0 - x / n) / n'
               '        + 0.9604 / (n * n))')} AS wilson_lo,
       {r6_sql('(x / n + 1.9208 / n) / (1.0 + 3.8416 / n)'
               ' + (1.96 / (1.0 + 3.8416 / n))'
               ' * sqrt((x / n) * (1.0 - x / n) / n'
               '        + 0.9604 / (n * n))')} AS wilson_hi
FROM c ORDER BY o_orderpriority
"""


@query("stat_wilson_ci", oracle=_WILSON_SQL)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE INTERVAL [PK — Wilson 1927] for the fulfilled-
    order proportion per priority class: the proportion CI that
    stays inside [0,1] and behaves at small n / extreme p̂ where the
    Wald interval collapses — the interval ranking systems actually
    use (e.g. lower-bound sorting). z is pinned at 1.96 (z²=3.8416,
    z²/2=1.9208, z²/4=0.9604 written as literals so neither engine
    derives them); x and n are exact counts; everything else is one
    identical double expression per engine — sqrt is IEEE-correctly-
    rounded on both, so identical inputs give identical bounds.
    Scale: one hash aggregate, constant-size output."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
         .cast("double").alias("x"))
    n, x = F.col("n"), F.col("x")
    p = x / n
    denom = 1.0 + F.lit(3.8416) / n
    center = (p + F.lit(1.9208) / n) / denom
    half = (F.lit(1.96) / denom) * F.sqrt(p * (1.0 - p) / n
                                          + F.lit(0.9604) / (n * n))
    return (c.select("o_orderpriority",
                     n.cast("long").alias("n"), x.cast("long").alias("x"),
                     r6(p).alias("p_hat"),
                     r6(center - half).alias("wilson_lo"),
                     r6(center + half).alias("wilson_hi"))
             .orderBy("o_orderpriority"))


# ---------------------------------------------------------------------------
# Compounding growth index (pinned log-returns)
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts, value,
         lag(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0),
l AS (
  SELECT user_id, event_id, ts,
         ROUND(ln(value / prev), 9) AS lr
  FROM p WHERE prev IS NOT NULL)
SELECT user_id, event_id,
       ROUND(100.0 * exp(CAST(SUM(CAST(lr AS DECIMAL(38,12)))
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
                          AS DOUBLE)), 6) AS growth_index
FROM l ORDER BY user_id, event_id
"""


@query("win_growth_index", oracle=_GROWTH_SQL)
def win_growth_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOUNDING GROWTH INDEX [PK — cumulative log-return index,
    the finance/growth-accounting standard]: index_t = 100·exp(Σ
    ln(vᵢ/vᵢ₋₁)) over each user's positive-value series — the
    multiplicative cumulative product done additively so it is
    order-exact: each log-return is evaluated ONCE and pinned to
    9 dp (the q_round6d pinned-log discipline), the running sum is
    DECIMAL(38,12) (no fold-order drift), and the final exp of an
    identical double argument rounds to 6 dp (the unigram-perplexity
    precedent). A naive running PRODUCT of doubles would drift with
    partition evaluation order; logs make it a window sum. Scale:
    one lag + one cumulative window sharing the per-user sort —
    single exchange."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
        & (F.col("value") > 0))
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "event_id", "ts", "value",
                  F.lag("value").over(ws).alias("prev"))
    lr = p.filter(F.col("prev").isNotNull()).select(
        "user_id", "event_id", "ts",
        ln9(F.col("value") / F.col("prev")).alias("lr"))
    wc = ws.rowsBetween(W.unboundedPreceding, 0)
    cum = F.sum(F.col("lr").cast(DEC)).over(wc).cast("double")
    return (lr.select("user_id", "event_id",
                      r6(100.0 * F.exp(cum)).alias("growth_index"))
              .orderBy("user_id", "event_id"))


# ---------------------------------------------------------------------------
# Average True Range over daily bars
# ---------------------------------------------------------------------------

_ATR_SQL = """
WITH b AS (
  SELECT user_id, date_trunc('day', ts) AS day, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
bars AS (
  SELECT user_id, day,
         MAX(value) AS high, MIN(value) AS low,
         MAX(CASE WHEN rn_d = 1 THEN value END) AS close
  FROM b GROUP BY user_id, day),
tr AS (
  SELECT user_id, day, high, low, close,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE GREATEST(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS true_range
  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
a AS (
  SELECT user_id, day, true_range,
         CAST(SUM(CAST(true_range AS DECIMAL(38,12))) OVER f AS DOUBLE)
           / 14.0 AS atr_14,
         COUNT(*) OVER f AS n_win
  FROM tr WINDOW f AS (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, day, ROUND(true_range, 6) AS true_range,
       ROUND(atr_14, 6) AS atr_14
FROM a WHERE n_win = 14 ORDER BY user_id, day
"""


@query("win_atr", oracle=_ATR_SQL)
def win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE TRUE RANGE [PK — Wilder 1978, SMA variant]: daily
    (high, low, close) bars per user (the agg_ohlc_bars downsample;
    close resolved by the deterministic (ts, event_id) row_number
    tiebreak, never `last()`), TR = max(h−l, |h−prev_close|,
    |l−prev_close|) — the gap-aware volatility range — then the
    14-bar simple average through a DECIMAL window sum, emitted only
    at full lookback. The first bar's TR is h−l (Wilder's seed). All
    bar values pass through untouched (no arithmetic before the TR
    differences, which are identical IEEE ops per engine). Scale:
    the bar aggregate collapses events to one row per (user, day)
    BEFORE any window runs — the windows ride a table ~10³× smaller
    than the source; bar agg + both windows share the user
    partitioning."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    day = F.date_trunc("day", F.col("ts"))
    wd = W.partitionBy("user_id", "day").orderBy(F.desc("ts"),
                                                 F.desc("event_id"))
    b = (ev.select("user_id", day.alias("day"), "value", "ts", "event_id")
           .withColumn("rn_d", F.row_number().over(wd)))
    bars = b.groupBy("user_id", "day").agg(
        F.max("value").alias("high"), F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"))
    ws = W.partitionBy("user_id").orderBy("day")
    h, lo = F.col("high"), F.col("low")
    pc = F.lag("close").over(ws)
    tr_col = (F.when(pc.isNull(), h - lo)
               .otherwise(F.greatest(h - lo, F.abs(h - pc),
                                     F.abs(lo - pc))))
    tr = bars.select("user_id", "day", tr_col.alias("true_range"))
    wf = ws.rowsBetween(-13, 0)
    atr = F.sum(F.col("true_range").cast(DEC)).over(wf).cast("double") / 14.0
    a = tr.select("user_id", "day", "true_range",
                  atr.alias("atr_14"),
                  F.count(F.lit(1)).over(wf).alias("n_win"))
    return (a.filter(F.col("n_win") == 14)
             .select("user_id", "day", r6(F.col("true_range"))
                     .alias("true_range"), r6(F.col("atr_14")).alias("atr_14"))
             .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# QUALIFY semantics (window filter without a subquery)
# ---------------------------------------------------------------------------

_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey)
            AS BIGINT) AS rn
FROM orders
QUALIFY rn <= 2
ORDER BY o_custkey, rn
"""


@query("sql_qualify_semantics", oracle=_QUALIFY_SQL)
def sql_qualify_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-clause semantics pin [PK — Teradata origin; DuckDB/
    Snowflake/BigQuery dialects]: filter on a window function
    WITHOUT wrapping in a subquery. Spark SQL has no QUALIFY
    keyword, so the engine expresses the identical semantics as
    window-then-filter (evaluation order: WHERE → window → QUALIFY
    — exactly what filtering AFTER the window computes); the oracle
    runs DuckDB's native QUALIFY so any divergence between the two
    evaluation orders would surface as a mismatch. Top-2 orders per
    customer by price with the deterministic o_orderkey tiebreak.
    Scale: one window over the customer partitioning, filter pushed
    into the window's output — no extra exchange."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                           "o_orderkey")
    return (o.select("o_custkey", "o_orderkey", "o_totalprice",
                     F.row_number().over(w).cast("long").alias("rn"))
             .filter(F.col("rn") <= 2)
             .orderBy("o_custkey", "rn"))


# ---------------------------------------------------------------------------
# Systematic sampling (every k-th element per stream)
# ---------------------------------------------------------------------------

_SYSTEMATIC_SQL = """
WITH r AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id, event_id, ts, CAST(rn AS BIGINT) AS rn
FROM r WHERE (rn - 1) % 10 = 0
ORDER BY user_id, rn
"""


@query("data_systematic_sample", oracle=_SYSTEMATIC_SQL)
def data_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC SAMPLING [PK — survey-statistics canon]: every
    10th event of each user's time-ordered stream, starting at the
    first — the deterministic 1-in-k design that preserves temporal
    spread (a Bernoulli/hash sample clusters by chance; systematic
    cannot), the right downsample for plotting and drift monitors.
    RNG-free and reproducible on any engine: the selection is a pure
    function of the (ts, event_id) total order. Scale: one
    row_number window per user partition — no global sort, no
    coordination; contrast data_sample_stratified (hash-gate, no
    order guarantee)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select("user_id", "event_id", "ts",
                  F.row_number().over(w).cast("long").alias("rn"))
    return (r.filter((F.col("rn") - 1) % 10 == 0)
             .orderBy("user_id", "rn"))
