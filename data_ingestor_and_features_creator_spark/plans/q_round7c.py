"""Round-7c operator additions: geospatial encoding, proportion
inference, sequential drift detection, rank effect size, and the
Kaufman efficiency ratio.

Provenance (SURVEY.md §0 applies — empty reference checkout): geohash
is the public Niemeyer encoding [PK]; the two-proportion pooled z and
rank-biserial are textbook statistics [PK]; Page–Hinkley is the
published sequential change detector (Page 1954 [PK]); Kaufman ER is
the published adaptive-moving-average building block [PK].

Float discipline per the house rules and the round-6 lessons
(functions/exact.py): every windowed float sum is STRING-ROUTED
through DECIMAL(38,12); statistics that are ratios of short-decimal
rationals are emitted UNROUNDED (the win_vwap convention — ROUND's
7th-digit half-grid is not measure-zero for such ratios); geohash is
integer-exact end to end.

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead of
these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC
from .registry import query

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"  # geohash alphabet (no a,i,l,o)


def _interleave_sql(spark_side: bool) -> str:
    """30-bit geohash interleave (lon takes the even bit positions
    counting from the MSB) as an unrolled bit expression — Spark
    spelling uses shiftleft/shiftright functions, DuckDB the
    operators; both are exact BIGINT arithmetic."""
    terms = []
    for i in range(15):
        if spark_side:
            terms.append(f"shiftleft(shiftright(ilon, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright(ilat, {i}) & 1, {2 * i})")
        else:
            terms.append(f"(((ilon >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"(((ilat >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _b32_sql(g: str, fn_sub: str) -> str:
    """6 base-32 chars from the 30-bit code (5 bits per char, MSB
    first). ``fn_sub`` is 'substring' (Spark) or 'substr' (DuckDB);
    both are 1-based."""
    chars = [
        f"{fn_sub}('{_B32}', CAST(((({g}) >> {25 - 5 * j}) & 31) + 1 "
        f"AS INT), 1)" for j in range(6)]
    return " || ".join(chars)


_GEO_SPARK_INTER = _interleave_sql(spark_side=True)
_GEO_DUCK_INTER = _interleave_sql(spark_side=False)


@query("geo_geohash_encode", oracle=f"""
WITH pts AS (
  SELECT event_id,
         CAST(user_id % 180 AS DOUBLE) - 90.0 + 0.5 AS lat,
         CAST(event_id % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
  FROM events WHERE event_id % 7 = 0),
q AS (
  SELECT event_id, lat, lon,
         CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT) AS ilat,
         CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT) AS ilon
  FROM pts),
g AS (SELECT event_id, ilat, ilon, {_GEO_DUCK_INTER} AS code FROM q)
SELECT event_id, CAST(code AS BIGINT) AS code30,
       {_b32_sql('code', 'substr')} AS geohash6
FROM g
""")
def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOHASH ENCODING (Niemeyer [PK]) as pure integer arithmetic —
    the spatial bucketing key that turns lat/lon proximity into string
    PREFIX proximity, so geo joins become prefix-equality joins and
    geo partitioning becomes ordinary hash/range partitioning on the
    hash string (the z-order/Morton trick in base32 clothing —
    cluster_zorder is the 2-int sibling). Pipeline: quantize lat/lon
    to 15 bits each (floor((x+90)/180·2^15) — exact IEEE on identical
    doubles), interleave lon/lat bits MSB-first (30-bit Morton code,
    unrolled shift/mask — BIGINT-exact on both engines), then 6
    base-32 chars, 5 bits each. No libm, no rounding: the whole op is
    hash-stable by construction. Fixture lat/lon derive from ids on a
    half-degree grid; event_id % 7 keeps output scale-proportional.
    At 100 TB the geohash column is computed at ingest (one
    whole-stage-codegen projection, zero shuffle) and becomes the
    partition/bucket key for all spatial access."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0)
    pts = ev.select(
        "event_id",
        ((F.col("user_id") % 180).cast("double") - 90.0 + 0.5)
        .alias("lat"),
        ((F.col("event_id") % 360).cast("double") - 180.0 + 0.5)
        .alias("lon"))
    q = pts.select(
        "event_id", "lat", "lon",
        F.floor((F.col("lat") + 90.0) / 180.0 * 32768.0).cast("bigint")
        .alias("ilat"),
        F.floor((F.col("lon") + 180.0) / 360.0 * 32768.0).cast("bigint")
        .alias("ilon"))
    g = q.selectExpr("event_id", f"({_GEO_SPARK_INTER}) AS code")
    return g.selectExpr(
        "event_id", "CAST(code AS BIGINT) AS code30",
        f"{_b32_sql('code', 'substring')} AS geohash6")


# ---------------------------------------------------------------------------
# Two-proportion pooled z-test (first vs second time half)
# ---------------------------------------------------------------------------

@query("stat_two_proportion_z", oracle="""
WITH f AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
           FROM events),
t AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) * 2 <= f.lo + f.hi THEN 1 ELSE 0 END
           AS first_half,
         CASE WHEN value IS NOT NULL AND NOT isnan(value)
                   AND value > 50.0 THEN 1 ELSE 0 END AS hit
  FROM events, f),
c AS (
  SELECT event_type,
         CAST(SUM(first_half) AS BIGINT) AS n1,
         CAST(SUM(first_half * hit) AS BIGINT) AS x1,
         CAST(SUM(1 - first_half) AS BIGINT) AS n2,
         CAST(SUM((1 - first_half) * hit) AS BIGINT) AS x2
  FROM t GROUP BY event_type)
SELECT event_type, n1, x1, n2, x2,
       CASE WHEN n1 > 0 AND n2 > 0 AND (x1 + x2) > 0
                 AND (x1 + x2) < (n1 + n2) THEN
         (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                * (1.0 / n1 + 1.0 / n2))
       END AS z_pooled
FROM c
""")
def stat_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION POOLED Z-TEST [PK] per event_type: did the rate
    of high-value events (value > 50, NaN≡missing) change between the
    first and second time half (integer epoch-µs midpoint — exact on
    both engines)? The launch-gate statistic behind ab_srm_check's
    cousin question. Everything upstream of the z is exact integer
    counts; the z itself is division + sqrt of exact rationals —
    IEEE-exact, bit-identical cross-engine — and is emitted UNROUNDED
    per the win_vwap convention (a ratio of short-decimal rationals
    can land exactly on ROUND's 7th-digit half-grid; the p-value
    needs erf, a libm that drifts cross-engine, so the z is the
    hash-stable deliverable and the caller applies their own CDF).
    Degenerate halves (empty, all-hit, no-hit) yield NULL. One
    map-side-combined aggregate + a broadcast scalar frontier."""
    ev = load_table(spark, sf_dir, "events")
    f_ = ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                F.max(F.unix_micros("ts")).alias("hi"))
    first = F.when(F.unix_micros("ts") * 2 <= F.col("lo") + F.col("hi"),
                   1).otherwise(0)
    hit = F.when(F.col("value").isNotNull() & ~F.isnan("value")
                 & (F.col("value") > 50.0), 1).otherwise(0)
    t = (ev.crossJoin(F.broadcast(f_))
           .select("event_type", first.alias("first_half"),
                   hit.alias("hit")))
    c = t.groupBy("event_type").agg(
        F.sum("first_half").alias("n1"),
        F.sum(F.col("first_half") * F.col("hit")).alias("x1"),
        F.sum(1 - F.col("first_half")).alias("n2"),
        F.sum((1 - F.col("first_half")) * F.col("hit")).alias("x2"))
    n1, x1 = F.col("n1").cast("double"), F.col("x1").cast("double")
    n2, x2 = F.col("n2").cast("double"), F.col("x2").cast("double")
    p = (x1 + x2) / (n1 + n2)
    z = ((x1 / n1 - x2 / n2)
         / F.sqrt(p * (1.0 - p) * (1.0 / n1 + 1.0 / n2)))
    ok = ((F.col("n1") > 0) & (F.col("n2") > 0)
          & (F.col("x1") + F.col("x2") > 0)
          & (F.col("x1") + F.col("x2") < F.col("n1") + F.col("n2")))
    return c.select("event_type", "n1", "x1", "n2", "x2",
                    F.when(ok, z).alias("z_pooled"))


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift detector per user
# ---------------------------------------------------------------------------

_PH_DELTA = 0.5   # magnitude tolerance
_PH_LAMBDA = 50.0  # alarm threshold


@query("agg_page_hinkley_drift", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
p AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER w AS t,
         CAST(SUM(CAST(value AS DECIMAL(38,12))) OVER w AS DOUBLE) AS pt,
         value
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (
  SELECT user_id, event_id, t,
         CAST(SUM(CAST(CAST(value - pt / t - {_PH_DELTA} AS VARCHAR)
                       AS DECIMAL(38,12))) OVER w2 AS DOUBLE) AS mt
  FROM p WINDOW w2 AS (PARTITION BY user_id ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ph AS (
  SELECT user_id, event_id, t,
         mt - MIN(mt) OVER (PARTITION BY user_id ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS ph_t
  FROM m)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(ph_t) AS max_ph,
       CAST(COUNT(CASE WHEN ph_t > {_PH_LAMBDA} THEN 1 END) AS BIGINT)
         AS n_alarms,
       CAST(MIN(CASE WHEN ph_t > {_PH_LAMBDA} THEN t END) AS BIGINT)
         AS first_alarm_t
FROM ph GROUP BY user_id
""")
def agg_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY sequential drift detector (Page 1954 [PK]) per
    user — the streaming-ML guard that flags an upward mean shift in
    a metric stream: m_T = Σ(x_t − x̄_t − δ) with the RUNNING mean,
    PH_T = m_T − min_{t≤T} m_t, alarm when PH crosses λ. The key
    Spark move: the recursive-looking detector is TWO ordered window
    passes — a cumulative sum gives every running mean in one pass,
    a second cumulative sum + running MIN gives PH — no Python loop,
    no state store. Float discipline: prefix sums of raw values run
    through DECIMAL(38,12) (order-safe); the drift terms x−P/t−δ are
    identical IEEE expressions over bit-identical inputs and their
    cumulative sum is STRING-ROUTED into DECIMAL (dsum_str rule —
    direct double→decimal casts quantize half-ulp differently per
    engine); max_ph is emitted UNROUNDED (fixed fold, bit-identical;
    12-dp decimal values can sit on ROUND's half-grid). Alarm counts
    and first-alarm rank are exact integers. One user_id exchange,
    both windows share its sort."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "ts", "event_id", "value"))
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    p = v.select(
        "user_id", "event_id", "value",
        F.row_number().over(
            W.partitionBy("user_id").orderBy("ts", "event_id")).alias("t"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        .alias("pt"))
    term = (F.col("value") - F.col("pt") / F.col("t") - _PH_DELTA)
    w2 = (W.partitionBy("user_id").orderBy("t")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    m = p.select(
        "user_id", "event_id", "t",
        F.sum(term.cast("string").cast(DEC)).over(w2).cast("double")
        .alias("mt"))
    ph = m.select(
        "user_id", "t",
        (F.col("mt") - F.min("mt").over(w2)).alias("ph_t"))
    return (ph.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("ph_t").alias("max_ph"),
                 F.count(F.when(F.col("ph_t") > _PH_LAMBDA, 1))
                 .alias("n_alarms"),
                 F.min(F.when(F.col("ph_t") > _PH_LAMBDA, F.col("t")))
                 .alias("first_alarm_t")))


# ---------------------------------------------------------------------------
# Rank-biserial effect size (the Mann-Whitney companion)
# ---------------------------------------------------------------------------

@query("stat_rank_biserial", oracle="""
WITH v AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
r AS (
  SELECT grp, value,
         CAST(RANK() OVER (ORDER BY value) AS DOUBLE)
           + (CAST(COUNT(*) OVER (PARTITION BY value) AS DOUBLE) - 1.0)
             / 2.0 AS midrank
  FROM v),
s AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CAST(CASE WHEN grp = 1 THEN midrank END
                  AS DECIMAL(38,12))) AS DOUBLE) AS r1
  FROM r)
SELECT n1, n2,
       r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u1,
       2.0 * (r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0)
         / (CAST(n1 AS DOUBLE) * n2) - 1.0 AS rank_biserial
FROM s
""")
def stat_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BISERIAL correlation [PK — Cureton; the Mann-Whitney
    effect size reviewers ask for next to agg_mannwhitney_u's U]:
    r = 2U₁/(n₁n₂) − 1 ∈ [−1, 1], the difference between the
    probability a random 'click' value exceeds a random non-click
    value and the reverse. Midranks come from the tie-correct
    identity midrank(v) = (#rows < v) + (ties(v) + 1)/2 — exact .5
    rationals, summed through DECIMAL(38,12); U and r are then exact
    rationals computed with identical IEEE ops and emitted UNROUNDED
    (win_vwap convention: quotients of short decimals land on ROUND's
    half-grid with real probability). Scale shape (round 9, replacing
    the raw-row global RANK window): the rank sum needs only the
    PER-VALUE histogram — group by value (map-side combinable), one
    cumulative window over the distinct-value table (above the
    aggregate, value-cardinality-bounded), and
    r1 = Σ_v clicks(v)·midrank(v) — no raw fact row ever crosses a
    global window."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select(F.when(F.col("event_type") == "click", 1).otherwise(0)
                   .alias("grp"), "value"))
    pv = v.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("grp").alias("c1"))
    w_cum = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = pv.withColumn(
        "before", F.coalesce(F.sum("c").over(w_cum), F.lit(0)))
    midrank = (F.col("before").cast("double")
               + (F.col("c").cast("double") + 1.0) / 2.0)
    s = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum((F.col("c1").cast("double") * midrank).cast(DEC))
        .cast("double").alias("r1"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    u1 = F.col("r1") - n1d * (F.col("n1") + 1) / 2.0
    return s.select("n1", "n2", u1.alias("u1"),
                    (2.0 * u1 / (n1d * n2d) - 1.0).alias("rank_biserial"))


# ---------------------------------------------------------------------------
# Kaufman efficiency ratio (trend vs noise) per user
# ---------------------------------------------------------------------------

_KER_N = 10


@query("win_kaufman_er", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
d AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER w AS t,
         LAG(value, {_KER_N}) OVER w AS lagn,
         ABS(value - LAG(value, 1) OVER w) AS step
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, t, value, lagn,
         CAST(SUM(CAST(CAST(step AS VARCHAR) AS DECIMAL(38,12)))
              OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN {_KER_N - 1} PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS noise
  FROM d)
SELECT user_id, event_id,
       CASE WHEN lagn IS NOT NULL AND noise > 0
            THEN ABS(value - lagn) / noise END AS er
FROM s WHERE t > {_KER_N}
""")
def win_kaufman_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAUFMAN EFFICIENCY RATIO [PK — the adaptive-moving-average
    building block]: ER = |net change over N steps| / Σ|per-step
    change| over the same N steps — 1.0 for a straight trend, →0 for
    pure chop; the regime gate that decides whether win_sma_crossover
    signals are trustworthy. Construction: one lag window gives both
    the N-step net change and the per-step absolute moves; the noise
    denominator is a {_KER_N}-row framed sum STRING-ROUTED through
    DECIMAL(38,12) (|diffs| are full-precision doubles — the
    dsum_str rule); ER is then a quotient of bit-identical doubles,
    emitted UNROUNDED (win_vwap convention), NULL where the window
    is short or flat (noise = 0). One user_id exchange; every window
    shares its sort."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "ts", "event_id", "value"))
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = v.select(
        "user_id", "event_id", "value",
        F.row_number().over(wo).alias("t"),
        F.lag("value", _KER_N).over(wo).alias("lagn"),
        F.abs(F.col("value") - F.lag("value", 1).over(wo)).alias("step"))
    # Round 12: O(n·W) sliding decimal sum → O(n) prefix difference
    # (functions/rollfast.py; exact, oracle keeps the windowed SQL).
    from ..functions.rollfast import trailing_agg
    ta = trailing_agg(
        d, ["user_id"], ["t"], (-(_KER_N - 1), 0),
        sums={"noised": F.col("step").cast("string").cast(DEC)})
    s = ta.select(
        "user_id", "event_id", "t", "value", "lagn",
        F.col("noised").cast("double").alias("noise"))
    er = F.when(F.col("lagn").isNotNull() & (F.col("noise") > 0),
                F.abs(F.col("value") - F.col("lagn")) / F.col("noise"))
    return (s.filter(F.col("t") > _KER_N)
             .select("user_id", "event_id", er.alias("er")))
