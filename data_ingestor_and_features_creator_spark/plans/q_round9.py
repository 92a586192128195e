"""Round-9 operator additions: regression-forecast metrics, the
Friedman test, Keltner channels and floor-trader pivot points,
entity-level (group) split hashing, bigram LM perplexity, the Lorenz
revenue-concentration curve, and train-fit count/frequency encoding.

Provenance (SURVEY.md §0 applies — empty reference checkout): RMSE/
MAE/sMAPE/R² are textbook forecast-accuracy metrics [PK — Hyndman &
Koehler 2006 for the sMAPE form]; Friedman's rank test is Friedman
1937 [PK]; Keltner channels are Keltner 1960 / the ATR variant of
Wilder 1978 [PK]; floor pivots are classic trading arithmetic [PK];
group-level splitting is scikit-learn's GroupShuffleSplit semantics
[PK]; bigram LM scoring is Shannon / Jurafsky-Martin ch.3 [PK]; the
Lorenz curve is Lorenz 1905 [PK]; count/frequency encoding is the
standard categorical-encoding pair [PK].

Float discipline (memory of rounds 1-8, functions/exact.py):
`events.value` and `o_totalprice` are EXACT 2-dp decimals in every
fixture, so ratio-of-sums outputs here land on ROUND's half-grid with
real probability — every such metric is emitted UNROUNDED from
string-routed (dsum_str) sums, which are bit-identical by
construction; money flows through INTEGER CENTS (the q1 path); libm
logs are pinned to 9 dp once per distinct n-gram (text_unigram_logprob
precedent); windows ride per-user/day partitions or distinct-value
aggregates — no raw-row global window (the round-9 plan-scan rule).

Registered at the TAIL of plans/__init__.py so the driver-budget
rotation keeps earlier never-sampled ids ahead of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import (
    DEC,
    dsum_raw,
    dsum_str,
    dsum_str_sql,
    ln9,
    ln9_sql,
    r6,
    r6_sql,
)
from ..operators import textops
from .registry import query


def _ds_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,12))) AS DOUBLE)"


# The portable Knuth multiplicative hash (data_split_hash precedent):
# every intermediate < 2^52 so DuckDB BIGINT evaluates identically.
_KNUTH = "(({key} % 1000003) * 2654435761) % 1000003 % 100"


# ---------------------------------------------------------------------------
# Regression / forecast accuracy metrics
# ---------------------------------------------------------------------------

@query("ml_regression_metrics", oracle=f"""
WITH p AS (
  SELECT event_type, value AS y,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS yhat
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
e AS (
  SELECT event_type, y, yhat, y - yhat AS err
  FROM p WHERE yhat IS NOT NULL),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         {dsum_str_sql('abs(err)')} AS sae,
         {dsum_str_sql('err * err')} AS sse,
         {dsum_str_sql('y')} AS sy,
         {dsum_str_sql('''CASE WHEN abs(y) + abs(yhat) > 0
             THEN 2.0 * abs(err) / (abs(y) + abs(yhat)) ELSE 0.0 END''')}
           AS ssym
  FROM e GROUP BY event_type),
t AS (
  SELECT e.event_type,
         {dsum_str_sql('(e.y - s.sy / s.n) * (e.y - s.sy / s.n)')} AS sst
  FROM e JOIN s ON e.event_type = s.event_type
  GROUP BY e.event_type)
SELECT s.event_type, s.n,
       s.sae / s.n AS mae,
       SQRT(s.sse / s.n) AS rmse,
       s.ssym / s.n AS smape,
       CASE WHEN t.sst > 0 THEN 1.0 - s.sse / t.sst END AS r2
FROM s JOIN t ON s.event_type = t.event_type
ORDER BY s.event_type
""")
def ml_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST-ACCURACY METRICS per event type [PK — Hyndman &
    Koehler 2006]: MAE, RMSE, sMAPE and R² of the one-step naive
    forecast (ŷ = previous value in the user's series — the standard
    no-model baseline every real forecast must beat). Exactness: the
    fixture's values are 2-dp decimals, so Σ|err|/n and friends are
    SHORT-DECIMAL RATIONALS — the documented ROUND half-grid class —
    hence every sum is string-routed (dsum_str, bit-identical by
    construction) and every metric is emitted UNROUNDED; R²'s SST
    uses the per-group mean ȳ = Σy/n computed identically on both
    engines before the second pass (the cancelling-difference-free
    two-pass form, not nΣy²−(Σy)²). Scale: lag rides the standard
    per-user window partition; both passes are map-side-combinable
    hash aggregates over event_type (≤ |types| rows ever shuffle)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("event_type", F.col("value").alias("y"),
                  F.lag("value").over(w).alias("yhat"))
    e = (p.filter(F.col("yhat").isNotNull())
          .withColumn("err", F.col("y") - F.col("yhat")))
    sym = F.when(F.abs("y") + F.abs("yhat") > 0,
                 2.0 * F.abs("err") / (F.abs("y") + F.abs("yhat"))
                 ).otherwise(F.lit(0.0))
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_str(F.abs("err")).alias("sae"),
        dsum_str(F.col("err") * F.col("err")).alias("sse"),
        dsum_str("y").alias("sy"),
        dsum_str(sym).alias("ssym"))
    t = (e.join(s.select("event_type", "sy", F.col("n").alias("__n")),
                "event_type")
          .withColumn("dev", F.col("y") - F.col("sy") / F.col("__n"))
          .groupBy("event_type")
          .agg(dsum_str(F.col("dev") * F.col("dev")).alias("sst")))
    out = s.join(t, "event_type")
    return (out.select(
        "event_type", "n",
        (F.col("sae") / F.col("n")).alias("mae"),
        F.sqrt(F.col("sse") / F.col("n")).alias("rmse"),
        (F.col("ssym") / F.col("n")).alias("smape"),
        F.when(F.col("sst") > 0,
               1.0 - F.col("sse") / F.col("sst")).alias("r2"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Friedman rank test (k related samples, blocked design)
# ---------------------------------------------------------------------------

@query("stat_friedman_test", oracle=f"""
WITH k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM events),
m AS (
  SELECT user_id, event_type,
         {dsum_str_sql('value')} / COUNT(*) AS mv
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY user_id, event_type),
full_blocks AS (
  SELECT user_id FROM m, k GROUP BY user_id, k.k
  HAVING COUNT(*) = ANY_VALUE(k.k)),
r AS (
  SELECT m.user_id, m.event_type,
         CAST(RANK() OVER (PARTITION BY m.user_id ORDER BY m.mv)
              AS DOUBLE)
         + (CAST(COUNT(*) OVER (PARTITION BY m.user_id, m.mv)
                 AS DOUBLE) - 1.0) / 2.0 AS rk
  FROM m JOIN full_blocks USING (user_id)),
rj AS (
  SELECT event_type, {_ds_sql('rk')} AS r_j,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM r GROUP BY event_type),
q AS (
  SELECT ANY_VALUE(n_blocks) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         {_ds_sql('r_j * r_j')} AS sr2
  FROM rj)
SELECT n AS n_blocks, k AS k_treatments,
       12.0 / (n * k * (k + 1.0)) * sr2 - 3.0 * n * (k + 1.0)
         AS friedman_q
FROM q
""")
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN RANK TEST [PK — Friedman 1937], the non-parametric
    repeated-measures ANOVA completing the registry's test family
    (Kruskal-Wallis = unblocked, Cochran Q = binary, this = blocked
    continuous): blocks are users, treatments are event types, the
    observation is the user×type mean (string-routed sum / count —
    identical double both engines, so the within-block ranks agree
    exactly); blocks missing any treatment are dropped (the complete-
    block design). Midranks via RANK + (ties−1)/2 (.5-grid exact);
    Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) from integer/half-exact inputs
    with identical IEEE ops, emitted UNROUNDED. Scale: one (user,
    type) aggregate, ranks ride the per-user partition (k rows per
    block), R_j sums are |types|-bounded."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    k = ev.agg(F.countDistinct("event_type").alias("k"))
    m = (ev.groupBy("user_id", "event_type")
           .agg((dsum_str("value") / F.count(F.lit(1))).alias("mv")))
    full = (m.groupBy("user_id").agg(F.count(F.lit(1)).alias("nt"))
             .crossJoin(F.broadcast(k))
             .filter(F.col("nt") == F.col("k"))
             .select("user_id"))
    rk = (F.rank().over(W.partitionBy("user_id").orderBy("mv"))
          .cast("double")
          + (F.count(F.lit(1)).over(W.partitionBy("user_id", "mv"))
             .cast("double") - 1.0) / 2.0)
    r = (m.join(F.broadcast(full), "user_id")
          .select("user_id", "event_type", rk.alias("rk")))
    rj = r.groupBy("event_type").agg(
        dsum_raw(F.col("rk")).alias("r_j"),
        F.count(F.lit(1)).alias("n_blocks"))
    q = rj.agg(F.first("n_blocks").alias("n"),
               F.count(F.lit(1)).alias("k"),
               dsum_raw(F.col("r_j") * F.col("r_j")).alias("sr2"))
    n, kk = F.col("n"), F.col("k")
    return q.select(
        n.alias("n_blocks"), kk.alias("k_treatments"),
        (12.0 / (n * kk * (kk + 1.0)) * F.col("sr2")
         - 3.0 * n * (kk + 1.0)).alias("friedman_q"))


# ---------------------------------------------------------------------------
# Keltner channel (EMA-free SMA variant: middle = SMA(typical), ±2·ATR)
# ---------------------------------------------------------------------------

_KC_N = 14


@query("win_keltner_channel", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
b AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         MAX(value) AS high, MIN(value) AS low,
         MAX(CASE WHEN rn = 1 THEN value END) AS close
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id,
                                     date_trunc('day', ts)
                                     ORDER BY ts DESC, event_id DESC)
                    AS rn FROM v)
  GROUP BY user_id, day),
tr AS (
  SELECT user_id, day, high, low, close,
         (high + low + close) / 3.0 AS typical,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE GREATEST(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS trng
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY day)),
f AS (
  SELECT user_id, day,
         CAST(SUM(CAST(typical AS DECIMAL(38,12))) OVER wf AS DOUBLE)
           / {_KC_N}.0 AS mid,
         CAST(SUM(CAST(trng AS DECIMAL(38,12))) OVER wf AS DOUBLE)
           / {_KC_N}.0 AS atr,
         COUNT(*) OVER wf AS n_win
  FROM tr WINDOW wf AS (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN {_KC_N - 1} PRECEDING
                        AND CURRENT ROW))
SELECT user_id, CAST(day AS DATE) AS day,
       {r6_sql('mid')} AS middle,
       {r6_sql('mid + 2.0 * atr')} AS upper,
       {r6_sql('mid - 2.0 * atr')} AS lower
FROM f WHERE n_win = {_KC_N}
ORDER BY user_id, day
""")
def win_keltner_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELTNER CHANNEL [PK — Keltner 1960, ATR band variant]: daily
    bars per user (the win_atr downsample, deterministic close
    tiebreak), middle = {_KC_N}-bar SMA of the typical price
    (H+L+C)/3 through a DECIMAL window sum, band = ±2·ATR({_KC_N})
    — the volatility envelope pairing win_bollinger_bands (stddev
    band) and win_donchian_channel (extreme band). Emitted only at
    full lookback, 6 dp (the win_atr convention — /3 and /{_KC_N}
    quotients of 2-dp inputs are repeating decimals, not the
    terminating half-grid class). Scale: the bar aggregate collapses
    events to one row per (user, day) BEFORE any window; all windows
    share the user partition."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    day = F.date_trunc("day", F.col("ts"))
    wd = W.partitionBy("user_id", "day").orderBy(F.desc("ts"),
                                                 F.desc("event_id"))
    b = (ev.select("user_id", day.alias("day"), "value", "ts", "event_id")
           .withColumn("rn", F.row_number().over(wd))
           .groupBy("user_id", "day")
           .agg(F.max("value").alias("high"), F.min("value").alias("low"),
                F.max(F.when(F.col("rn") == 1, F.col("value")))
                 .alias("close")))
    ws = W.partitionBy("user_id").orderBy("day")
    h, lo = F.col("high"), F.col("low")
    pc = F.lag("close").over(ws)
    tr = b.select(
        "user_id", "day",
        ((h + lo + F.col("close")) / 3.0).alias("typical"),
        F.when(pc.isNull(), h - lo)
         .otherwise(F.greatest(h - lo, F.abs(h - pc), F.abs(lo - pc)))
         .alias("trng"))
    wf = ws.rowsBetween(-(_KC_N - 1), 0)
    mid = F.sum(F.col("typical").cast(DEC)).over(wf).cast("double") / _KC_N
    atr = F.sum(F.col("trng").cast(DEC)).over(wf).cast("double") / _KC_N
    f = tr.select("user_id", "day", mid.alias("mid"), atr.alias("atr"),
                  F.count(F.lit(1)).over(wf).alias("n_win"))
    return (f.filter(F.col("n_win") == _KC_N)
             .select("user_id", F.col("day").cast("date").alias("day"),
                     r6(F.col("mid")).alias("middle"),
                     r6(F.col("mid") + 2.0 * F.col("atr")).alias("upper"),
                     r6(F.col("mid") - 2.0 * F.col("atr")).alias("lower"))
             .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# Floor-trader pivot points from the previous day's bar
# ---------------------------------------------------------------------------

@query("win_pivot_points", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
b AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         MAX(value) AS high, MIN(value) AS low,
         MAX(CASE WHEN rn = 1 THEN value END) AS close
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id,
                                     date_trunc('day', ts)
                                     ORDER BY ts DESC, event_id DESC)
                    AS rn FROM v)
  GROUP BY user_id, day),
p AS (
  SELECT user_id, day,
         lag(high) OVER w AS ph, lag(low) OVER w AS pl,
         lag(close) OVER w AS pc
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY day))
SELECT user_id, CAST(day AS DATE) AS day,
       {r6_sql('(ph + pl + pc) / 3.0')} AS pivot,
       {r6_sql('2.0 * (ph + pl + pc) / 3.0 - pl')} AS r1,
       {r6_sql('2.0 * (ph + pl + pc) / 3.0 - ph')} AS s1,
       {r6_sql('(ph + pl + pc) / 3.0 + (ph - pl)')} AS r2,
       {r6_sql('(ph + pl + pc) / 3.0 - (ph - pl)')} AS s2
FROM p WHERE ph IS NOT NULL
ORDER BY user_id, day
""")
def win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLOOR-TRADER PIVOT POINTS [PK — classic session arithmetic]:
    per (user, day), support/resistance levels derived ENTIRELY from
    the PREVIOUS day's bar — P = (H+L+C)/3, R1 = 2P−L, S1 = 2P−H,
    R2 = P+(H−L), S2 = P−(H−L) — the leakage-free daily feature shape
    (today's levels never see today's prices; same discipline as the
    training-label family). One bar aggregate then one lag window on
    the ~10³×-smaller bar table; identical IEEE arithmetic from
    untouched bar values, 6 dp."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    day = F.date_trunc("day", F.col("ts"))
    wd = W.partitionBy("user_id", "day").orderBy(F.desc("ts"),
                                                 F.desc("event_id"))
    b = (ev.select("user_id", day.alias("day"), "value", "ts", "event_id")
           .withColumn("rn", F.row_number().over(wd))
           .groupBy("user_id", "day")
           .agg(F.max("value").alias("high"), F.min("value").alias("low"),
                F.max(F.when(F.col("rn") == 1, F.col("value")))
                 .alias("close")))
    ws = W.partitionBy("user_id").orderBy("day")
    p = b.select("user_id", "day",
                 F.lag("high").over(ws).alias("ph"),
                 F.lag("low").over(ws).alias("pl"),
                 F.lag("close").over(ws).alias("pc"))
    piv = (F.col("ph") + F.col("pl") + F.col("pc")) / 3.0
    rng = F.col("ph") - F.col("pl")
    return (p.filter(F.col("ph").isNotNull())
             .select("user_id", F.col("day").cast("date").alias("day"),
                     r6(piv).alias("pivot"),
                     r6(2.0 * piv - F.col("pl")).alias("r1"),
                     r6(2.0 * piv - F.col("ph")).alias("s1"),
                     r6(piv + rng).alias("r2"),
                     r6(piv - rng).alias("s2"))
             .orderBy("user_id", "day"))


# ---------------------------------------------------------------------------
# Entity-level (group) split: every event of a user lands in ONE split
# ---------------------------------------------------------------------------

@query("data_group_split_entity", oracle=f"""
WITH s AS (
  SELECT user_id, value,
         CASE WHEN {_KNUTH.format(key='user_id')} < 80 THEN 'train'
              WHEN {_KNUTH.format(key='user_id')} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM events)
SELECT split,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_str_sql('value')} AS total_value
FROM s GROUP BY split ORDER BY split
""")
def data_group_split_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-LEVEL SPLIT [PK — scikit-learn GroupShuffleSplit
    semantics]: the split is a deterministic Knuth hash of the GROUP
    key (user_id), so every event of a user lands in exactly one
    split BY CONSTRUCTION — the leakage mode this kills is a user's
    behavior straddling train and test, which data_split_hash's
    row-level split cannot prevent (and audit_split_exact_leak must
    then catch after the fact). Emits per-split user/event counts and
    the value total; the oracle recomputes the identical assignment
    (portable hash, every intermediate < 2^52). Scale: pure
    scan-parallel CASE + one hash aggregate — no sampling shuffle, no
    RNG state, any engine reproduces the assignment."""
    ev = load_table(spark, sf_dir, "events")
    h = ((F.col("user_id") % 1000003) * F.lit(2654435761)) % 1000003 % 100
    split = (F.when(h < 80, "train").when(h < 90, "val")
              .otherwise("test").alias("split"))
    return (ev.select(split, "user_id", "value")
              .groupBy("split")
              .agg(F.countDistinct("user_id").alias("n_users"),
                   F.count(F.lit(1)).alias("n_events"),
                   dsum_str("value").alias("total_value"))
              .orderBy("split"))


# ---------------------------------------------------------------------------
# Bigram LM perplexity (self-LM, closed over the corpus — no OOV path)
# ---------------------------------------------------------------------------

@query("seq_bigram_perplexity", oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')
           AS bigram
  FROM base, LATERAL (
    SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g),
cb AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12
       FROM bg GROUP BY bigram),
cp AS (SELECT string_split(bigram, ' ')[1] AS w1,
              CAST(SUM(c12) AS BIGINT) AS c1
       FROM cb GROUP BY w1),
lp AS (
  SELECT cb.bigram,
         {ln9_sql('CAST(cb.c12 AS DOUBLE) / cp.c1')} AS lp
  FROM cb JOIN cp ON string_split(cb.bigram, ' ')[1] = cp.w1),
scored AS (
  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         {_ds_sql('lp.lp')} AS slp
  FROM bg JOIN lp ON bg.bigram = lp.bigram
  GROUP BY bg.doc_id)
SELECT doc_id, n_bigrams,
       ROUND(slp / n_bigrams, 6) AS mean_logprob,
       ROUND(exp(-(slp / n_bigrams)), 6) AS bigram_ppl
FROM scored
""")
def seq_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM LM PERPLEXITY per document [PK — Shannon; Jurafsky &
    Martin ch.3], the order-2 companion of text_unigram_logprob's
    quality filter: score each document by the mean conditional
    log-probability ln P(w₂|w₁) = ln(c(w₁w₂)/c(w₁·)) under the
    corpus's own bigram model (self-LM — every bigram has c ≥ 1, so
    the op is closed with NO smoothing/OOV path; a production variant
    broadcasts a reference-LM table, identical plan). Each distinct
    bigram's log is pinned to 9 dp ONCE in the model table, documents
    sum pinned values through DECIMAL — fold-order-proof — and the
    single exp is the geometric-mean pattern (6 dp, the unigram
    precedent). Scale: bigram model = one map-side-combinable
    aggregate over exploded 2-shingles; prefix totals are
    vocab-bounded; the scoring join broadcasts the model onto the
    token stream."""
    d = load_table(spark, sf_dir, "documents")
    base = (d.select("doc_id", F.split("text", " ").alias("ts"))
             .filter(F.size("ts") >= 2))
    bg = base.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(ts) - 1), "
            "i -> concat_ws(' ', slice(ts, i, 2)))")).alias("bigram"))
    cb = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    cp = (cb.groupBy(F.substring_index("bigram", " ", 1).alias("w1"))
            .agg(F.sum("c12").alias("c1")))
    lp = (cb.join(F.broadcast(cp),
                  F.substring_index(cb.bigram, " ", 1) == cp.w1)
            .select("bigram",
                    ln9(F.col("c12").cast("double") / F.col("c1"))
                    .alias("lp")))
    scored = (bg.join(F.broadcast(lp), "bigram")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_bigrams"),
                     dsum_raw(F.col("lp")).alias("slp")))
    mean_lp = F.col("slp") / F.col("n_bigrams")
    return scored.select("doc_id", "n_bigrams",
                         F.round(mean_lp, 6).alias("mean_logprob"),
                         F.round(F.exp(-mean_lp), 6).alias("bigram_ppl"))


# ---------------------------------------------------------------------------
# Lorenz revenue-concentration curve (integer-cents exact)
# ---------------------------------------------------------------------------

@query("agg_lorenz_curve", oracle="""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
h AS (
  SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COUNT(*) AS BIGINT) * cents AS rev
  FROM c GROUP BY cents),
cum AS (
  SELECT cents, cnt, rev,
         CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS before_cnt,
         CAST(COALESCE(SUM(rev) OVER w, 0) AS BIGINT) AS before_rev
  FROM h WINDOW w AS (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING)),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(rev) AS BIGINT) AS total_rev
  FROM h),
d AS (SELECT unnest(generate_series(1, 10)) AS decile),
pts AS (
  SELECT d.decile,
         CAST(CEIL(d.decile * t.n / 10.0) AS BIGINT) AS k,
         MAX(c2.before_rev
             + (CAST(CEIL(d.decile * t.n / 10.0) AS BIGINT)
                - c2.before_cnt) * c2.cents) AS cum_rev
  FROM d CROSS JOIN tot t
  JOIN cum c2
    ON c2.before_cnt < CEIL(d.decile * t.n / 10.0)
   AND c2.before_cnt + c2.cnt >= CEIL(d.decile * t.n / 10.0)
  GROUP BY d.decile, k)
SELECT p.decile, p.k AS cum_orders,
       CAST(p.cum_rev AS BIGINT) AS cum_revenue_cents,
       CAST(p.cum_rev AS DOUBLE) / t.total_rev AS revenue_share
FROM pts p CROSS JOIN tot t
ORDER BY p.decile
""")
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ REVENUE-CONCENTRATION CURVE [PK — Lorenz 1905], the
    curve behind agg_gini_concentration's scalar: cumulative revenue
    share held by the cheapest ⌈d·n/10⌉ orders, d = 1..10. INTEGER-
    CENTS EXACT end to end (the q1 discipline: 2-dp money → BIGINT
    cents; counts × cents stay integers; the rank-k cumulative
    revenue interpolates WITHIN the value covering rank k as
    before_rev + (k − before_cnt)·cents — pure BIGINT); the share is
    a ratio of exact integers, emitted UNROUNDED (identical IEEE
    division both engines). Scale: per-VALUE histogram (map-side
    combinable), cumulative windows over the distinct-value table
    (above the aggregate — the round-9 plan-scan rule), a 10-row
    broadcast of decile targets; no raw order row crosses a window."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(F.expr(
        "CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"))
    h = (c.groupBy("cents")
          .agg(F.count(F.lit(1)).alias("cnt"),
               (F.count(F.lit(1)) * F.col("cents")).alias("rev")))
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    cum = (h.withColumn("before_cnt",
                        F.coalesce(F.sum("cnt").over(w), F.lit(0)))
            .withColumn("before_rev",
                        F.coalesce(F.sum("rev").over(w), F.lit(0))))
    tot = h.agg(F.sum("cnt").alias("n"), F.sum("rev").alias("total_rev"))
    d = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    k = F.ceil(F.col("decile") * F.col("n") / 10.0).cast("long")
    pts = (d.crossJoin(F.broadcast(tot))
             .withColumn("k", k)
             .join(cum, (F.col("before_cnt") < F.col("k"))
                   & (F.col("before_cnt") + F.col("cnt") >= F.col("k")))
             .groupBy("decile", "k", "total_rev")
             .agg(F.max(F.col("before_rev")
                        + (F.col("k") - F.col("before_cnt"))
                        * F.col("cents")).alias("cum_rev")))
    return (pts.select(
        "decile", F.col("k").alias("cum_orders"),
        F.col("cum_rev").alias("cum_revenue_cents"),
        (F.col("cum_rev").cast("double") / F.col("total_rev"))
        .alias("revenue_share"))
        .orderBy("decile"))


# ---------------------------------------------------------------------------
# Count / frequency encoding, fit on train only
# ---------------------------------------------------------------------------

@query("feature_count_freq_encoding", oracle=f"""
WITH s AS (
  SELECT event_id, event_type,
         CASE WHEN {_KNUTH.format(key='event_id')} < 80
              THEN 'train' ELSE 'test' END AS split
  FROM events),
enc AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS train_count
  FROM s WHERE split = 'train' GROUP BY event_type),
ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train
        FROM s WHERE split = 'train')
SELECT t.event_type,
       COALESCE(e.train_count, 0) AS train_count,
       CAST(COALESCE(e.train_count, 0) AS DOUBLE) / n.n_train
         AS train_freq,
       CAST(COUNT(*) AS BIGINT) AS n_test_rows
FROM s t LEFT JOIN enc e ON t.event_type = e.event_type
CROSS JOIN ntr n
WHERE t.split = 'test'
GROUP BY t.event_type, e.train_count, n.n_train
ORDER BY t.event_type
""")
def feature_count_freq_encoding(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """COUNT + FREQUENCY ENCODING fit on the train split only [PK —
    the standard categorical-encoding pair next to
    feature_target_encoding_loo/_cumulative]: the encoder table
    (category → train count, train frequency) is learned exclusively
    from train rows (portable Knuth hash split, the data_split_hash
    key) and APPLIED to test rows — the fit/transform separation that
    makes the encoding leakage-free. Unseen-in-train categories
    coalesce to 0 (the documented cold-start convention). Frequency
    is a ratio of exact BIGINTs, emitted UNROUNDED. Scale: encoder =
    one train-side hash aggregate, |categories| rows, broadcast onto
    the test scan."""
    ev = load_table(spark, sf_dir, "events")
    h = ((F.col("event_id") % 1000003) * F.lit(2654435761)) % 1000003 % 100
    s = ev.select("event_id", "event_type",
                  F.when(h < 80, "train").otherwise("test").alias("split"))
    enc = (s.filter(F.col("split") == "train")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("train_count")))
    ntr = (s.filter(F.col("split") == "train")
            .agg(F.count(F.lit(1)).alias("n_train")))
    test = s.filter(F.col("split") == "test")
    return (test.join(F.broadcast(enc), "event_type", "left")
                .crossJoin(F.broadcast(ntr))
                .groupBy("event_type")
                .agg(F.coalesce(F.first("train_count"), F.lit(0))
                      .alias("train_count"),
                     (F.coalesce(F.first("train_count"), F.lit(0))
                      .cast("double") / F.first("n_train"))
                     .alias("train_freq"),
                     F.count(F.lit(1)).alias("n_test_rows"))
                .orderBy("event_type"))