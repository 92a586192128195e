"""Round-9c operator additions: learning-curve slices, M4 time-series
downsampling, grid DBSCAN with planted blobs, Jensen-Shannon drift,
Welch's heteroscedastic ANOVA, cohort retention half-life, rolling OLS
beta, and rolling 7-day distinct users.

Provenance (SURVEY.md §0 applies — empty reference checkout): learning
curves are standard ML practice [PK — e.g. scikit-learn's
learning_curve semantics]; M4 is Jugel, Markl et al., VLDB 2014 [PK];
DBSCAN is Ester et al. 1996 [PK — here the grid-cell variant with the
repo's star-contraction connected components]; Jensen-Shannon is Lin
1991 [PK]; Welch's ANOVA is Welch 1951 [PK]; retention half-life is
standard growth accounting [PK]; rolling beta is the classic rolling
OLS slope [PK]; rolling-window distinct actives is the WAU variant of
DAU/MAU [PK].

Float discipline (functions/exact.py house rules): counts/cells are
INTEGER; revenue rides exact cents converted ONCE to identically-
derived doubles before any product; every cross-engine sum routes
through DECIMAL; logs are 9-dp-pinned once per distinct ratio (the
agg_kl_divergence discipline); magnitudes are rescaled (cents → 1e-5
units) so no decimal→double boundary exceeds ~12 significant digits
(the round-4 scale-bound lesson). Windows ride per-type raw-row
partitions or bounded post-aggregation grids only.

Registered at the TAIL of plans/__init__.py so the driver-budget
rotation keeps earlier never-sampled ids ahead of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC, dsum, dsum_sql, ln9, ln9_sql, safe_div
from ..operators.graph import connected_components
from .registry import query

_H = "((user_id % 1000003) * 2654435761) % 1000003 % 100"


_OK = "value IS NOT NULL AND NOT isnan(value)"


# ---------------------------------------------------------------------------
# Learning curve: nested train fractions → fixed-test error
# ---------------------------------------------------------------------------

_FRACS = [(8, 10), (20, 25), (40, 50), (80, 100)]  # (hash gate, pct)


@query("ml_learning_curve", oracle=f"""
WITH f AS (
  SELECT event_type, value, ({_H}) AS h
  FROM events WHERE {_OK} AND user_id IS NOT NULL),
m AS (
  SELECT event_type,
         {", ".join(f'''{dsum_sql(f'CASE WHEN h < {g} THEN value END')}
           AS s{g},
         CAST(count_if(h < {g}) AS BIGINT) AS n{g}''' for g, _ in _FRACS)}
  FROM f GROUP BY event_type),
t AS (SELECT f.event_type, f.value,
             {", ".join(f'''CASE WHEN m.n{g} > 0
               THEN m.s{g} / m.n{g} END AS p{g}''' for g, _ in _FRACS)}
      FROM f JOIN m USING (event_type) WHERE f.h >= 80),
e AS (
  SELECT {", ".join(f'''
    {dsum_sql(f'POW(value - p{g}, 2)')} AS sq{g},
    {dsum_sql(f'ABS(value - p{g})')} AS ab{g},
    CAST(count_if(p{g} IS NOT NULL) AS BIGINT) AS ns{g},
    CAST(count_if(p{g} IS NULL) AS BIGINT) AS nu{g}'''
                  for g, _ in _FRACS)}
  FROM t),
n AS (SELECT {", ".join(f'CAST(SUM(n{g}) AS BIGINT) AS tr{g}'
                        for g, _ in _FRACS)} FROM m)
SELECT frac_pct, n_train, n_scored, n_unseen, mse, mae FROM (
  {" UNION ALL ".join(f'''SELECT {p} AS frac_pct, n.tr{g} AS n_train,
      e.ns{g} AS n_scored, e.nu{g} AS n_unseen,
      e.sq{g} / e.ns{g} AS mse, e.ab{g} / e.ns{g} AS mae
    FROM e, n''' for g, p in _FRACS)}) u
""")
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNING CURVE [PK — standard ML practice]: how does held-out
    error move as training data grows? NESTED train slices at
    10/25/50/100% of the train split (Knuth hash gates h<8/20/40/80 —
    nested by construction, so each slice is a superset of the last,
    exactly scikit-learn's learning_curve contract), a per-event_type
    train-mean predictor fit on each slice, and MSE/MAE scored on the
    FIXED 20% test split (h≥80). The answer to "do we need more
    data?" asked of a 100 TB corpus — and the entire curve costs ONE
    pass over train (conditional DECIMAL sums per gate) + ONE pass
    over test (all four predictors broadcast as a |types|-row dim).
    Types unseen in a slice predict NULL and are counted, not
    silently scored. Ratios unrounded from exact sums."""
    ev = load_table(spark, sf_dir, "events")
    f = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value")
                   & F.col("user_id").isNotNull())
           .select("event_type", "value",
                   (((F.col("user_id") % 1000003) * F.lit(2654435761))
                    % 1000003 % 100).alias("h")))
    aggs = []
    for g, _ in _FRACS:
        aggs.append(dsum(F.when(F.col("h") < g, F.col("value")))
                    .alias(f"s{g}"))
        aggs.append(F.count_if(F.col("h") < g).alias(f"n{g}"))
    m = f.groupBy("event_type").agg(*aggs)
    t = (f.filter(F.col("h") >= 80)
          .join(F.broadcast(m), "event_type")
          .select("value",
                  *[safe_div(F.col(f"s{g}"), F.col(f"n{g}"))
                    .alias(f"p{g}") for g, _ in _FRACS]))
    errs = []
    for g, _ in _FRACS:
        r = F.col("value") - F.col(f"p{g}")
        errs += [dsum(r * r).alias(f"sq{g}"),
                 dsum(F.abs(r)).alias(f"ab{g}"),
                 F.count_if(F.col(f"p{g}").isNotNull()).alias(f"ns{g}"),
                 F.count_if(F.col(f"p{g}").isNull()).alias(f"nu{g}")]
    e = t.agg(*errs)
    n = m.agg(*[F.sum(f"n{g}").alias(f"tr{g}") for g, _ in _FRACS])
    wide = e.crossJoin(F.broadcast(n))  # two 1-row aggregates
    return wide.select(F.expr(
        "stack(4, " + ", ".join(
            f"{p}L, tr{g}, ns{g}, nu{g}, sq{g} / ns{g}, ab{g} / ns{g}"
            for g, p in _FRACS)
        + ") AS (frac_pct, n_train, n_scored, n_unseen, mse, mae)"))


# ---------------------------------------------------------------------------
# M4 downsampling (min/max/first/last per bucket — VLDB 2014)
# ---------------------------------------------------------------------------

@query("time_downsample_m4", oracle=f"""
WITH f AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value,
         CAST(epoch_us(ts) AS BIGINT) AS us, event_id
  FROM events WHERE {_OK}),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, day
                       ORDER BY us, event_id) AS rf,
    row_number() OVER (PARTITION BY event_type, day
                       ORDER BY us DESC, event_id DESC) AS rl,
    row_number() OVER (PARTITION BY event_type, day
                       ORDER BY value, us, event_id) AS rmn,
    row_number() OVER (PARTITION BY event_type, day
                       ORDER BY value DESC, us DESC, event_id DESC) AS rmx,
    COUNT(*) OVER (PARTITION BY event_type, day) AS n
  FROM f)
SELECT event_type, day, CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rf = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rl = 1 THEN value END) AS v_last,
       MAX(CASE WHEN rmn = 1 THEN value END) AS v_min,
       MAX(CASE WHEN rmx = 1 THEN value END) AS v_max,
       MAX(CASE WHEN rmn = 1 THEN us END) AS ts_min_us,
       MAX(CASE WHEN rmx = 1 THEN us END) AS ts_max_us
FROM r GROUP BY event_type, day
""")
def time_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 DOWNSAMPLING [PK — Jugel et al., VLDB 2014]: the
    error-free-at-pixel-resolution time-series reduction — per
    (series, bucket) keep exactly the FIRST, LAST, MIN and MAX points
    (with the extremes' timestamps), which provably reproduces the
    line rendering of the full series at that horizontal resolution.
    The dashboard-backend operator for plotting a 100 TB series: one
    hash aggregate with map-side partials (four struct-ordered
    extreme picks — the agg_argmax_reading total-order trick: value
    ties break on (ts, event_id), first/last order on (ts, event_id)
    — so every pick is deterministic on both engines), NO window over
    raw rows, output cardinality = series × buckets. Values are exact
    element picks → emitted unrounded."""
    ev = load_table(spark, sf_dir, "events")
    f = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type", F.to_date("ts").alias("day"), "value",
                   F.unix_micros("ts").alias("us"), "event_id"))
    first = F.min(F.struct("us", "event_id", "value")).alias("pf")
    last = F.max(F.struct("us", "event_id", "value")).alias("pl")
    vmin = F.min(F.struct("value", "us", "event_id")).alias("pmn")
    vmax = F.max(F.struct("value", "us", "event_id")).alias("pmx")
    return (f.groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).alias("n"), first, last, vmin, vmax)
             .select("event_type", "day", "n",
                     F.col("pf.value").alias("v_first"),
                     F.col("pl.value").alias("v_last"),
                     F.col("pmn.value").alias("v_min"),
                     F.col("pmx.value").alias("v_max"),
                     F.col("pmn.us").alias("ts_min_us"),
                     F.col("pmx.us").alias("ts_max_us")))


# ---------------------------------------------------------------------------
# Grid DBSCAN (planted blobs + density threshold + star-contraction CC)
# ---------------------------------------------------------------------------

_GRID_W, _GRID_H = 360, 180


def _dbscan_cells_sql() -> str:
    return f"""
  SELECT CASE WHEN user_id % 10 = 0
              THEN 100 + ((event_id // 11) % 5) * 3 + event_id % 2
              ELSE (event_id * 91) % {_GRID_W} END AS cx,
         CASE WHEN user_id % 10 = 0
              THEN 50
              ELSE (event_id * 37) % {_GRID_H} END AS cy
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL"""


@query("geo_grid_dbscan", oracle=f"""
WITH pts AS ({_dbscan_cells_sql()}),
cells AS (
  SELECT cy * {_GRID_W} + cx AS cell, cx, cy,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pts GROUP BY cx, cy),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS pn,
               CAST(COUNT(*) AS BIGINT) AS cn FROM cells),
core AS (
  SELECT cells.* FROM cells, tot
  WHERE cnt * tot.cn >= 2 * tot.pn),
edges AS (
  SELECT a.cell AS a, b.cell AS b
  FROM core a JOIN core b
    ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1
   AND a.cell < b.cell),
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
rch AS (
  WITH RECURSIVE r AS (
    SELECT cell, cell AS root FROM core
    UNION
    SELECT s.b AS cell, r.root FROM r JOIN sym s ON s.a = r.cell)
  SELECT cell, MIN(root) AS cluster_id FROM r GROUP BY cell)
SELECT rch.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(core.cnt) AS BIGINT) AS n_points,
       CAST(MIN(core.cx) AS BIGINT) AS x_min,
       CAST(MAX(core.cx) AS BIGINT) AS x_max,
       CAST(MIN(core.cy) AS BIGINT) AS y_min,
       CAST(MAX(core.cy) AS BIGINT) AS y_max
FROM rch JOIN core ON rch.cell = core.cell
GROUP BY rch.cluster_id
""")
def geo_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID DBSCAN [PK — Ester et al. 1996, grid-cell variant]:
    density clustering that never compares point pairs — quantize to
    integer grid cells (one hash aggregate), mark CORE cells by a
    data-relative density gate (≥ 2× mean occupied-cell occupancy —
    integer cross-multiplied, no float threshold, scale-free at any
    sf), connect cores through 8-neighborhood adjacency (an
    equi-ish join on |Δx|≤1 ∧ |Δy|≤1 over the BOUNDED core-cell set,
    never over points) and label components with the repo's
    star-contraction connected components (cluster id = min cell id,
    matching the oracle's recursive-CTE reachability exactly).
    Coordinates are the house integer hash derivation with PLANTED
    blobs: users ≡ 0 (mod 10) emit into five 2-cell boxes (blob index
    from event_id // 11, ≥ 2 cells apart — event-derived so all five
    blobs exist even when the tiny fixture has few users), so dense clusters exist by
    construction at every sf while the uniform remainder stays mostly
    sub-threshold (occasional isolated noise cores surface as
    deterministic singleton clusters — DBSCAN semantics, not error). Everything
    INTEGER. Scale: points → cells is map-side combined; the cell
    table is ≤ 360×180 rows at any data size, so core detection,
    adjacency and CC all run on a bounded relation."""
    ev = load_table(spark, sf_dir, "events")
    planted = F.col("user_id") % 10 == 0
    pts = (ev.filter(F.col("user_id").isNotNull()
                     & F.col("event_id").isNotNull())
             .select(
                 F.when(planted,
                        100 + ((F.col("event_id") / 11).cast("long")
                               % 5) * 3
                        + F.col("event_id") % 2)
                  .otherwise((F.col("event_id") * 91) % _GRID_W)
                  .alias("cx"),
                 F.when(planted, F.lit(50))
                  .otherwise((F.col("event_id") * 37) % _GRID_H)
                  .alias("cy")))
    cells = (pts.groupBy("cx", "cy")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("cell",
                            F.col("cy") * _GRID_W + F.col("cx")))
    tot = cells.agg(F.sum("cnt").alias("pn"),
                    F.count(F.lit(1)).alias("cn"))
    core = (cells.crossJoin(F.broadcast(tot))
                 .filter(F.col("cnt") * F.col("cn")
                         >= 2 * F.col("pn"))
                 .select("cell", "cx", "cy", "cnt"))
    b = core.select(F.col("cell").alias("bcell"),
                    F.col("cx").alias("bx"), F.col("cy").alias("by"))
    edges = (core.join(b,
                       (F.abs(F.col("cx") - F.col("bx")) <= 1)
                       & (F.abs(F.col("cy") - F.col("by")) <= 1)
                       & (F.col("cell") < F.col("bcell")))
                 .select(F.col("cell").alias("a"),
                         F.col("bcell").alias("b")))
    # (n, cluster_id) for edge endpoints; isolated cores stay singletons
    labels = (connected_components(edges)
              .select(F.col("n").alias("cell"),
                      F.col("cluster_id").alias("cc")))
    lab = (core.join(labels, "cell", "left")
               .select("cell", "cx", "cy", "cnt",
                       F.coalesce("cc", "cell").alias("cluster_id")))
    return (lab.groupBy("cluster_id")
               .agg(F.count(F.lit(1)).alias("n_cells"),
                    F.sum("cnt").alias("n_points"),
                    F.min("cx").cast("long").alias("x_min"),
                    F.max("cx").cast("long").alias("x_max"),
                    F.min("cy").cast("long").alias("y_min"),
                    F.max("cy").cast("long").alias("y_max")))


# ---------------------------------------------------------------------------
# Jensen-Shannon drift (symmetric, bounded — the KL sibling)
# ---------------------------------------------------------------------------

@query("stat_js_divergence", oracle=f"""
WITH f AS (SELECT MAX(ts) AS hi FROM events),
tagged AS (
  SELECT event_type,
         CASE WHEN ts > (SELECT hi FROM f) - INTERVAL 7 DAY THEN 1
              WHEN ts > (SELECT hi FROM f) - INTERVAL 14 DAY THEN 0
         END AS win
  FROM events),
c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN win = 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN win = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS cq
  FROM tagged WHERE win IS NOT NULL GROUP BY event_type),
t AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(cq) AS BIGINT) AS tq
      FROM c),
pq AS (
  SELECT c.event_type, c.cp - 1 AS n_recent, c.cq - 1 AS n_prior,
         CAST(c.cp AS DOUBLE) / t.tp AS p,
         CAST(c.cq AS DOUBLE) / t.tq AS q
  FROM c CROSS JOIN t)
SELECT event_type, n_recent, n_prior,
       ROUND(p, 6) AS p, ROUND(q, 6) AS q,
       ROUND(0.5 * p * ({ln9_sql('p')} - {ln9_sql('(p + q) / 2')})
             + 0.5 * q * ({ln9_sql('q')} - {ln9_sql('(p + q) / 2')}), 6)
         AS js_contrib
FROM pq
""")
def stat_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON drift [PK — Lin 1991] between the last 7 days'
    and prior 7 days' event-type mixes: JS = ½KL(P‖M) + ½KL(Q‖M),
    M = ½(P+Q) — the SYMMETRIC, bounded (≤ ln 2) sibling of
    agg_kl_divergence, the drift score production monitors prefer
    because it never explodes on a vanishing cell and doesn't care
    which window is 'reference'. Same machinery as the KL op: frontier
    anchor max(ts) (never now()), add-one smoothing, per-category
    contributions whose SUM is the divergence, each an exact-rational
    probability times differences of 9-dp-pinned logs, rounded 6 dp.
    One scan + a |types|-row aggregate + a 1-row total broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("ts").alias("hi"))
    tagged = (ev.crossJoin(F.broadcast(hi))
                .select("event_type",
                        F.when(F.col("ts") > F.col("hi")
                               - F.expr("INTERVAL 7 DAY"), 1)
                         .when(F.col("ts") > F.col("hi")
                               - F.expr("INTERVAL 14 DAY"), 0)
                         .alias("win"))
                .filter(F.col("win").isNotNull()))
    c = (tagged.groupBy("event_type")
               .agg((F.sum(F.when(F.col("win") == 1, 1).otherwise(0)) + 1)
                    .cast("bigint").alias("cp"),
                    (F.sum(F.when(F.col("win") == 0, 1).otherwise(0)) + 1)
                    .cast("bigint").alias("cq")))
    t = c.agg(F.sum("cp").alias("tp"), F.sum("cq").alias("tq"))
    pq = (c.crossJoin(F.broadcast(t))
           .select("event_type",
                   (F.col("cp") - 1).alias("n_recent"),
                   (F.col("cq") - 1).alias("n_prior"),
                   (F.col("cp").cast("double") / F.col("tp")).alias("p"),
                   (F.col("cq").cast("double") / F.col("tq")).alias("q")))
    m = (F.col("p") + F.col("q")) / 2
    js = (0.5 * F.col("p") * (ln9(F.col("p")) - ln9(m))
          + 0.5 * F.col("q") * (ln9(F.col("q")) - ln9(m)))
    return pq.select("event_type", "n_recent", "n_prior",
                     F.round("p", 6).alias("p"),
                     F.round("q", 6).alias("q"),
                     F.round(js, 6).alias("js_contrib"))


# ---------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA
# ---------------------------------------------------------------------------

@query("stat_welch_anova", oracle=f"""
WITH f AS (SELECT event_type, value FROM events WHERE {_OK}),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         {dsum_sql('value')} AS s
  FROM f GROUP BY event_type),
r AS (
  SELECT f.event_type, MAX(g.n) AS n, MAX(g.s / g.n) AS mean,
         {dsum_sql('POW(f.value - g.s / g.n, 2)')} AS ss
  FROM f JOIN g USING (event_type)
  GROUP BY f.event_type),
wts AS (
  SELECT event_type, n, mean,
         ss / (n - 1) AS var_,
         CAST(n AS DOUBLE) / (ss / (n - 1)) AS w
  FROM r WHERE n > 1 AND ss > 0),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         {dsum_sql('w')} AS sw,
         {dsum_sql('w * mean')} AS swm
  FROM wts),
lam AS (
  SELECT {dsum_sql('POW(1 - wts.w / agg.sw, 2) / (wts.n - 1)')} AS l
  FROM wts, agg),
num AS (
  SELECT {dsum_sql('wts.w * POW(wts.mean - agg.swm / agg.sw, 2)')} AS a
  FROM wts, agg)
SELECT agg.k, agg.n_total,
       (num.a / (agg.k - 1))
         / (1 + 2.0 * (agg.k - 2) * lam.l / (agg.k * agg.k - 1))
         AS w_stat,
       (CAST(agg.k * agg.k AS DOUBLE) - 1) / (3.0 * lam.l) AS df2
FROM agg, lam, num
""")
def stat_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S HETEROSCEDASTIC ONE-WAY ANOVA [PK — Welch 1951]: the
    F-test that does NOT assume equal group variances (the classical
    stat_anova_oneway breaks under variance heterogeneity — Welch's W
    is the production default, e.g. scipy's anova alternative):
    weights w_i = n_i/s_i², W = [Σw_i(x̄_i−X̄_w)²/(k−1)] /
    [1 + 2(k−2)Λ/(k²−1)], Λ = Σ(1−w_i/Σw)²/(n_i−1), df₂ = (k²−1)/3Λ.
    Group variances come from an EXPLICIT residual pass against the
    exact-sum means (the ANOVA cancelling-difference lesson — never
    Σx²−(Σx)²/n at fact scale), every cross-group reduction routes
    through DECIMAL, and W/df₂ are emitted unrounded (identical-
    double assembly). Degenerate groups (n≤1 or zero variance) are
    excluded as the test requires. Two passes over the facts (means,
    then residuals) + k-row scalar algebra."""
    ev = load_table(spark, sf_dir, "events")
    f = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type", "value"))
    g = f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
    r = (f.join(F.broadcast(g), "event_type")
          .groupBy("event_type")
          .agg(F.max("n").alias("n"),
               F.max(F.col("s") / F.col("n")).alias("mean"),
               dsum(F.pow(F.col("value") - F.col("s") / F.col("n"),
                          F.lit(2))).alias("ss")))
    wts = (r.filter((F.col("n") > 1) & (F.col("ss") > 0))
            .select("event_type", "n", "mean",
                    (F.col("ss") / (F.col("n") - 1)).alias("var_"),
                    (F.col("n").cast("double")
                     / (F.col("ss") / (F.col("n") - 1))).alias("w")))
    agg = wts.agg(F.count(F.lit(1)).alias("k"),
                  F.sum("n").alias("n_total"),
                  dsum("w").alias("sw"),
                  dsum(F.col("w") * F.col("mean")).alias("swm"))
    j = wts.crossJoin(F.broadcast(agg))
    lam = j.agg(dsum(F.pow(1 - F.col("w") / F.col("sw"), F.lit(2))
                     / (F.col("n") - 1)).alias("l"))
    num = j.agg(dsum(F.col("w")
                     * F.pow(F.col("mean")
                             - F.col("swm") / F.col("sw"), F.lit(2)))
                .alias("a"))
    return (agg.crossJoin(F.broadcast(lam)).crossJoin(F.broadcast(num))
               .select(
                   "k", "n_total",
                   ((F.col("a") / (F.col("k") - 1))
                    / (1 + 2.0 * (F.col("k") - 2) * F.col("l")
                       / (F.col("k") * F.col("k") - 1))).alias("w_stat"),
                   ((F.col("k") * F.col("k") - F.lit(1)).cast("double")
                    / (3.0 * F.col("l"))).alias("df2")))


# ---------------------------------------------------------------------------
# Cohort retention half-life
# ---------------------------------------------------------------------------

@query("agg_retention_half_life", oracle="""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL),
first AS (SELECT user_id, MIN(day) AS c0 FROM act GROUP BY user_id),
aa AS (
  SELECT f.c0 AS cohort, a.day - f.c0 AS age,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active
  FROM act a JOIN first f USING (user_id)
  GROUP BY f.c0, a.day - f.c0),
mx AS (SELECT MAX(day) AS dmax FROM act),
spine AS (
  SELECT c.cohort, CAST(gs.age AS BIGINT) AS age
  FROM (SELECT DISTINCT cohort FROM aa) c, mx,
       LATERAL (SELECT unnest(generate_series(
                  0, (mx.dmax - c.cohort))) AS age) gs),
grid AS (
  SELECT s.cohort, s.age, COALESCE(aa.active, 0) AS active
  FROM spine s LEFT JOIN aa
    ON aa.cohort = s.cohort AND aa.age = s.age),
sz AS (SELECT cohort, active AS size FROM grid WHERE age = 0)
SELECT g.cohort, MAX(sz.size) AS cohort_size,
       CAST(MAX(g.age) AS BIGINT) AS max_age,
       MIN(CASE WHEN g.age >= 1 AND 2 * g.active <= sz.size
                THEN g.age END) AS half_life_days
FROM grid g JOIN sz USING (cohort)
GROUP BY g.cohort
""")
def agg_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION HALF-LIFE [PK — standard growth accounting]: for each
    first-activity-day cohort, the first age (days) at which the
    active-user count falls to ≤ half the cohort size — the scalar
    every retention curve gets compressed to. Cohort size is the
    age-0 active count (every member is active on its first day — the
    ltv_cohort_triangle identity) and ages with NO active rows are
    gap-filled to 0 against the cohort × age spine (a missing row IS
    a fully-churned age; without the spine the minimum would skip it
    — sequence()/generate_series over the bounded day span). All
    INTEGER arithmetic (2·active ≤ size, no 0.5 float). Scale: the
    (user, day) distinct and the first-day lookup shuffle on user_id;
    everything after lives on the bounded cohort × age grid."""
    ev = load_table(spark, sf_dir, "events")
    act = (ev.filter(F.col("user_id").isNotNull())
             .select("user_id", F.to_date("ts").alias("day"))
             .distinct())
    first = act.groupBy("user_id").agg(F.min("day").alias("c0"))
    aa = (act.join(first, "user_id")
             .groupBy(F.col("c0").alias("cohort"),
                      F.datediff("day", "c0").alias("age"))
             .agg(F.countDistinct("user_id").alias("active")))
    mx = act.agg(F.max("day").alias("dmax"))
    spine = (aa.select("cohort").distinct()
               .crossJoin(F.broadcast(mx))
               .select("cohort",
                       F.explode(F.sequence(
                           F.lit(0),
                           F.datediff("dmax", "cohort"))).alias("age")))
    grid = (spine.join(aa, ["cohort", "age"], "left")
                 .select("cohort", F.col("age").cast("long").alias("age"),
                         F.coalesce("active", F.lit(0)).alias("active")))
    sz = (grid.filter(F.col("age") == 0)
              .select("cohort", F.col("active").alias("size")))
    return (grid.join(F.broadcast(sz), "cohort")
                .groupBy("cohort")
                .agg(F.max("size").alias("cohort_size"),
                     F.max("age").alias("max_age"),
                     F.min(F.when((F.col("age") >= 1)
                                  & (2 * F.col("active")
                                     <= F.col("size")),
                                  F.col("age"))).alias("half_life_days")))


# ---------------------------------------------------------------------------
# Rolling OLS beta (per-type daily revenue vs the market)
# ---------------------------------------------------------------------------

_BETA_WIN = 14


@query("win_rolling_beta", oracle=f"""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE {_OK}
  GROUP BY event_type, CAST(ts AS DATE)),
spine AS (
  SELECT t.event_type, dd.day
  FROM (SELECT DISTINCT event_type FROM d) t,
       (SELECT DISTINCT day FROM d) dd),
grid AS (
  SELECT s.event_type, s.day,
         CAST(COALESCE(d.cents, 0) AS DOUBLE) / 100000.0 AS y
  FROM spine s LEFT JOIN d USING (event_type, day)),
mkt AS (
  SELECT event_type, day, y,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) OVER (PARTITION BY day)
              AS DOUBLE) AS m
  FROM grid),
roll AS (
  SELECT event_type, day,
         CAST(COUNT(*) OVER w AS BIGINT) AS nw,
         CAST(SUM(CAST(m AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sm,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(m * m AS DECIMAL(38,12))) OVER w AS DOUBLE) AS smm,
         CAST(SUM(CAST(m * y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS smy
  FROM mkt
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_BETA_WIN - 1} PRECEDING AND CURRENT ROW))
SELECT event_type, day, nw,
       CASE WHEN nw = {_BETA_WIN}
             AND nw * smm - sm * sm <> 0
            THEN (nw * smy - sm * sy) / (nw * smm - sm * sm)
       END AS beta
FROM roll
""")
def win_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS BETA [PK — the classic rolling regression slope]:
    each event_type's daily revenue regressed on the MARKET (all-type
    daily total) over a trailing {w}-day window — the feature finance
    and marketing-mix pipelines extract from co-moving series. Exact
    assembly chain: daily cents (integer) → ONE identical double per
    cell (cents/1e5 — the rescale keeps every windowed sum under ~12
    significant digits, inside the decimal→double safe bound) →
    market total and all four rolling sums through DECIMAL windows
    (in-frame fold order is unspecified, the win_ratio_to_report
    rule) → β = (nΣmy−ΣmΣy)/(nΣm²−(Σm)²) on bit-identical doubles,
    emitted unrounded; NULL until the frame fills and on degenerate
    variance. The day grid is gap-filled per type (missing day =
    zero revenue) so frames align on calendar rows. Scale: everything
    after the first aggregate lives on the bounded types × days
    grid.""".format(w=_BETA_WIN)
    ev = load_table(spark, sf_dir, "events")
    d = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .groupBy("event_type", F.to_date("ts").alias("day"))
           .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("cents")))
    spine = (d.select("event_type").distinct()
              .crossJoin(d.select("day").distinct()))
    grid = (spine.join(d, ["event_type", "day"], "left")
                 .select("event_type", "day",
                         (F.coalesce("cents", F.lit(0)).cast("double")
                          / 100000.0).alias("y")))
    mkt = grid.withColumn(
        "m", F.sum(F.col("y").cast(DEC))
              .over(W.partitionBy("day")).cast("double"))
    w = (W.partitionBy("event_type").orderBy("day")
          .rowsBetween(-(_BETA_WIN - 1), 0))

    def dwin(col):
        return F.sum(col.cast(DEC)).over(w).cast("double")

    roll = mkt.select(
        "event_type", "day",
        F.count(F.lit(1)).over(w).alias("nw"),
        dwin(F.col("m")).alias("sm"), dwin(F.col("y")).alias("sy"),
        dwin(F.col("m") * F.col("m")).alias("smm"),
        dwin(F.col("m") * F.col("y")).alias("smy"))
    det = F.col("nw") * F.col("smm") - F.col("sm") * F.col("sm")
    beta = F.when((F.col("nw") == _BETA_WIN) & (det != 0),
                  (F.col("nw") * F.col("smy")
                   - F.col("sm") * F.col("sy")) / det)
    return roll.select("event_type", "day",
                       F.col("nw").cast("long").alias("nw"),
                       beta.alias("beta"))


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (trailing WAU per day)
# ---------------------------------------------------------------------------

@query("win_rolling_distinct_users", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u
    ON u.day <= d.day AND u.day >= d.day - 6
  GROUP BY d.day)
SELECT d.day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / wau.wau AS dau_wau_ratio
FROM days d JOIN dau USING (day) JOIN wau USING (day)
""")
def win_rolling_distinct_users(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ROLLING 7-DAY DISTINCT USERS [PK — the trailing-WAU variant of
    DAU/MAU]: for every day, the EXACT count of distinct users active
    in the trailing 7-day window, plus same-day DAU and the
    DAU/rolling-WAU stickiness ratio (unrounded exact-integer
    quotient). Distinct-over-sliding-window does NOT decompose into
    rolling sums (a user active twice in the window counts once), so
    the exact formulation is the (user, day) DISTINCT pair table —
    tiny relative to events — range-joined to the bounded day spine
    (each pair lands in ≤ 7 windows: bounded fan-out, an equi-ish
    band join, never events × days). The approximate sibling at
    extreme user cardinality is rolling HLL-merge over daily sketches
    (agg_hll_sketch_merge); this op is the exact contract the sketch
    path is verified against."""
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.filter(F.col("user_id").isNotNull())
            .select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (days.withColumnRenamed("day", "d")
               .join(ud, (F.col("day") <= F.col("d"))
                     & (F.col("day") >= F.date_sub(F.col("d"), 6)))
               .groupBy("d")
               .agg(F.countDistinct("user_id").alias("wau"))
               .withColumnRenamed("d", "day"))
    return (days.join(dau, "day").join(wau, "day")
                .select("day", "dau", "wau",
                        (F.col("dau").cast("double") / F.col("wau"))
                        .alias("dau_wau_ratio")))
