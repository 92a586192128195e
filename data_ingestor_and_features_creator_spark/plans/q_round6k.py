"""Round-6k operator additions: leakage-safe feature transforms and
two SQL-surface pins.

WOE/IV encoding, a train-fit/apply-everywhere scaler, data-driven
quantile binning, top-k one-hot rollup, SMA crossover signals — the
feature-engineering passes that sit between raw tables and a model,
each built so the FIT statistics come only from the hash-gated train
split (the leakage rule ml_training_set_build enforces with frames,
applied here to transform fitting). Plus SELECT * EXCEPT and
ORDER BY ALL — two Spark-4 SQL-surface forms pinned against DuckDB's
dialect twins (EXCLUDE / identical text).

All on the exact-arithmetic toolkit: counts exact, sums DECIMAL
(string-routed where a cancelling difference follows), logs pinned
9 dp, final doubles identical-expression + 6 dp.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — WOE/IV is credit-
scoring canon (Siddiqi 2006); min-max/z-score scaling and quantile
binning are textbook preprocessing; SMA crossover is the classic
golden/death-cross trading signal; * EXCEPT and ORDER BY ALL are
documented Spark 4 SQL features).

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


# ---------------------------------------------------------------------------
# Weight of Evidence + Information Value
# ---------------------------------------------------------------------------

_WOE_SQL = f"""
WITH c AS (
  SELECT o_orderpriority AS category,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM orders GROUP BY o_orderpriority),
t AS (SELECT CAST(SUM(pos) AS DOUBLE) AS tot_pos,
             CAST(SUM(n - pos) AS DOUBLE) AS tot_neg FROM c),
w AS (
  SELECT category, n, pos,
         ROUND(ln(((pos + 0.5) / t.tot_pos)
                  / ((n - pos + 0.5) / t.tot_neg)), 9) AS woe,
         ((pos + 0.5) / t.tot_pos) - ((n - pos + 0.5) / t.tot_neg) AS dd
  FROM c, t)
SELECT category, n, pos, {r6_sql('woe')} AS woe,
       {r6_sql('dd * woe')} AS iv_contrib
FROM w ORDER BY category
"""


@query("feature_woe_iv", oracle=_WOE_SQL)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT OF EVIDENCE encoding + per-category INFORMATION VALUE
    [PK — credit-scoring canon, Siddiqi 2006]: WOE_c = ln((%pos_c)/
    (%neg_c)) with +0.5 Laplace cells (the standard zero-cell guard),
    IV contribution (dist_pos − dist_neg)·WOE — the supervised
    categorical encoder scorecards use instead of one-hot, and the
    variable-screening statistic (IV < 0.02 ≈ useless, > 0.5 ≈
    suspicious). The event rates are exact rationals; ln pinned 9 dp
    (the q_round6d discipline); IV term assembled from the pinned woe
    on both engines identically. Scale: one hash aggregate + a 1-row
    broadcast total — constant output at any SF."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
         .alias("pos"))
    t = c.agg(F.sum("pos").cast("double").alias("tot_pos"),
              F.sum(F.col("n") - F.col("pos")).cast("double")
               .alias("tot_neg"))
    ct = c.crossJoin(F.broadcast(t))
    dp = (F.col("pos") + 0.5) / F.col("tot_pos")
    dn = (F.col("n") - F.col("pos") + 0.5) / F.col("tot_neg")
    woe = ln9(dp / dn)
    w = ct.select("category", "n", "pos", woe.alias("woe"),
                  (dp - dn).alias("dd"))
    return (w.select("category", "n", "pos", r6(F.col("woe")).alias("woe"),
                     r6(F.col("dd") * F.col("woe")).alias("iv_contrib"))
             .orderBy("category"))


# ---------------------------------------------------------------------------
# Train-fit / apply-everywhere scaler (min-max + z-score)
# ---------------------------------------------------------------------------

_SCALER_SQL = f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN (event_id % 1000003) * 2654435761 % 1000003 % 100 < 80
              THEN 'train' ELSE 'test' END AS split
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
fit AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_str_sql('value')} AS s,
         {dsum_str_sql('value * value')} AS q
  FROM base WHERE split = 'train')
SELECT b.event_id, b.split,
       {r6_sql('(b.value - f.vmin) / (f.vmax - f.vmin)')} AS minmax,
       {r6_sql(f"(b.value - f.s / f.n)"
               f" / {safe_sqrt_sql('(f.q - f.s * f.s / f.n) / (f.n - 1.0)')}")}
         AS zscore
FROM base b, fit f
ORDER BY b.event_id
"""


@query("feature_scaler_train_fit", oracle=_SCALER_SQL)
def feature_scaler_train_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE feature scaling [PK — textbook preprocessing,
    fit-on-train-only]: min-max and z-score statistics are fitted on
    the hash-gated TRAIN split only (the portable Knuth gate of
    data_split_hash — any engine recomputes the same split) and
    applied to every row, train and test alike — fitting on the full
    table is the classic leakage bug this op's shape forbids. The fit
    sums are fully string-routed (dsum_str) because the variance is
    the cancelling Σx² − (Σx)²/n difference; the per-row transforms
    are identical IEEE expressions of identical doubles; degenerate
    variance → NULL via the safe-sqrt rule. Scale: one fit aggregate
    (broadcast, 1 row) + one scan-parallel projection — no shuffle of
    the data being scaled."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    gate = (F.col("event_id") % 1000003) * F.lit(2654435761) % 1000003 % 100
    base = ev.select(
        "event_id", "value",
        F.when(gate < 80, "train").otherwise("test").alias("split"))
    x = F.col("value")
    fit = base.filter(F.col("split") == "train").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_str(x).alias("s"), dsum_str(x * x).alias("q"))
    b = base.crossJoin(F.broadcast(fit))
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    minmax = (x - F.col("vmin")) / (F.col("vmax") - F.col("vmin"))
    z = (x - s / n) / safe_sqrt((q - s * s / n) / (n - 1.0))
    return (b.select("event_id", "split", r6(minmax).alias("minmax"),
                     r6(z).alias("zscore"))
             .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Data-driven quantile binning (train-fit edges)
# ---------------------------------------------------------------------------

_QBIN_SQL = """
WITH base AS (
  SELECT event_id, value,
         CASE WHEN (event_id % 1000003) * 2654435761 % 1000003 % 100 < 80
              THEN 'train' ELSE 'test' END AS split
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
ranked AS (
  SELECT value,
         row_number() OVER (ORDER BY value, event_id) AS rk,
         COUNT(*) OVER () AS n
  FROM base WHERE split = 'train'),
edges AS (
  SELECT MAX(CASE WHEN rk = CAST(CEIL(0.25 * n) AS BIGINT)
                  THEN value END) AS q1,
         MAX(CASE WHEN rk = CAST(CEIL(0.50 * n) AS BIGINT)
                  THEN value END) AS q2,
         MAX(CASE WHEN rk = CAST(CEIL(0.75 * n) AS BIGINT)
                  THEN value END) AS q3
  FROM ranked)
SELECT b.split,
       CASE WHEN b.value <= e.q1 THEN 0
            WHEN b.value <= e.q2 THEN 1
            WHEN b.value <= e.q3 THEN 2 ELSE 3 END AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(b.value) AS lo, MAX(b.value) AS hi
FROM base b, edges e
GROUP BY 1, 2 ORDER BY split, bin
"""


@query("feature_quantile_binning", oracle=_QBIN_SQL)
def feature_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUARTILE BINNING with TRAIN-FIT edges [PK — textbook
    discretization, fit-on-train like feature_scaler_train_fit]:
    quartile edges are DISCRETE order statistics of the train split
    (first value at cumulative rank ⌈p·n⌉ — the agg_percentile_disc
    spelling: actual data values, no interpolation convention to
    disagree on), broadcast and applied as a CASE ladder to both
    splits; output is the per-(split, bin) contingency with bin
    extremes — the drift check a scorecard runs on binned features.
    Edge values pass through exactly (no arithmetic). Scale (round 9,
    replacing the raw-row rank window): edges come from the per-value
    histogram of the train split — group by value, cumulative counts
    over the distinct-value table (window above the aggregate), edge
    = the value whose cumulative span covers rank ⌈q·n⌉; the apply
    side is a scan-parallel CASE + one small aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    gate = (F.col("event_id") % 1000003) * F.lit(2654435761) % 1000003 % 100
    base = ev.select(
        "event_id", "value",
        F.when(gate < 80, "train").otherwise("test").alias("split"))
    train = base.filter(F.col("split") == "train")
    hist = train.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    w_cum = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = (hist.withColumn("before",
                           F.coalesce(F.sum("c").over(w_cum), F.lit(0)))
               .crossJoin(F.broadcast(
                   train.agg(F.count(F.lit(1)).alias("n")))))
    before, cc, n = F.col("before"), F.col("c"), F.col("n")

    def _edge(q: float):
        k = F.ceil(q * n)
        return F.max(F.when((before < k) & (before + cc >= k),
                            F.col("value")))

    edges = cum.agg(_edge(0.25).alias("q1"), _edge(0.50).alias("q2"),
                    _edge(0.75).alias("q3"))
    b = base.crossJoin(F.broadcast(edges))
    v = F.col("value")
    bin_ = (F.when(v <= F.col("q1"), 0)
             .when(v <= F.col("q2"), 1)
             .when(v <= F.col("q3"), 2).otherwise(3))
    return (b.groupBy("split", bin_.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.min("value").alias("lo"), F.max("value").alias("hi"))
             .orderBy("split", "bin"))


# ---------------------------------------------------------------------------
# Top-k one-hot rollup
# ---------------------------------------------------------------------------

_ONEHOT_SQL = """
WITH topk AS (
  SELECT event_type,
         row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS rnk
  FROM events GROUP BY event_type
  QUALIFY rnk <= 3)
SELECT e.user_id,
       CAST(SUM(CASE WHEN t1.event_type IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS top1_cnt,
       CAST(SUM(CASE WHEN t2.event_type IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS top2_cnt,
       CAST(SUM(CASE WHEN t3.event_type IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS top3_cnt,
       CAST(SUM(CASE WHEN t1.event_type IS NULL AND t2.event_type IS NULL
                      AND t3.event_type IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS other_cnt
FROM events e
LEFT JOIN (SELECT event_type FROM topk WHERE rnk = 1) t1
       ON e.event_type = t1.event_type
LEFT JOIN (SELECT event_type FROM topk WHERE rnk = 2) t2
       ON e.event_type = t2.event_type
LEFT JOIN (SELECT event_type FROM topk WHERE rnk = 3) t3
       ON e.event_type = t3.event_type
GROUP BY e.user_id ORDER BY e.user_id
"""


@query("feature_onehot_topk", oracle=_ONEHOT_SQL)
def feature_onehot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K ONE-HOT rollup [PK — the standard high-cardinality
    categorical treatment: encode the k most frequent levels, bucket
    the tail as OTHER]: the top-3 event types are DATA-DRIVEN (count
    rank with a name tiebreak — deterministic on both engines, unlike
    a hardcoded pivot list that silently rots as the domain drifts),
    then per-user counts of each rank slot + the other-bucket in one
    aggregate. Rank-slot column names (top1..top3) keep the schema
    stable while the MEMBERS move with the data. Scale: the top-k
    table is k rows, BROADCAST-joined onto the scan (no driver
    round-trip — the slot mapping stays inside the plan); the encode
    is a scan-parallel conditional aggregate — one shuffle on
    user_id."""
    ev = load_table(spark, sf_dir, "events")
    wr = W.orderBy(F.desc("cnt"), "event_type")
    topk = (ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
              .select("event_type", F.row_number().over(wr).alias("rnk"))
              .filter(F.col("rnk") <= 3))
    e = ev.join(F.broadcast(topk), "event_type", "left")
    rnk = F.col("rnk")
    agg = [F.sum(F.when(rnk == i, 1).otherwise(0)).alias(f"top{i}_cnt")
           for i in (1, 2, 3)]
    other = F.sum(F.when(rnk.isNull(), 1).otherwise(0))
    return (e.groupBy("user_id")
              .agg(*agg, other.alias("other_cnt"))
              .orderBy("user_id"))


# ---------------------------------------------------------------------------
# SMA crossover signals (golden / death cross)
# ---------------------------------------------------------------------------

_CROSSOVER_SQL = """
WITH s AS (
  SELECT user_id, event_id, ts,
         SUM(CAST(CAST(value AS STRING) AS DECIMAL(38,12))) OVER f5 AS s5,
         SUM(CAST(CAST(value AS STRING) AS DECIMAL(38,12))) OVER f20 AS s20,
         COUNT(value) OVER f20 AS n20
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  WINDOW f5 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         f20 AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
d AS (
  SELECT user_id, event_id, ts,
         CASE WHEN s5 * 4 > s20 THEN 1
              WHEN s5 * 4 < s20 THEN -1 ELSE 0 END AS side,
         n20
  FROM s WHERE n20 = 20),
x AS (
  SELECT user_id, event_id,
         lag(side) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_side,
         side
  FROM d)
SELECT user_id, event_id,
       CASE WHEN side = 1 THEN 'golden' ELSE 'death' END AS cross_type
FROM x
WHERE prev_side IS NOT NULL AND side <> 0 AND prev_side <> side
ORDER BY user_id, event_id
"""


@query("win_sma_crossover", oracle=_CROSSOVER_SQL)
def win_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA CROSSOVER signals [PK — the golden/death-cross trading
    rule]: a 5-row SMA crossing a 20-row SMA per user. The comparison
    is EXACT, never a float ratio: SMA5 > SMA20 ⟺ Σ5·4 > Σ20 (cross-
    multiplied DECIMAL sums — both string-routed, so the sums are
    digit-identical cross-engine and the sign is unambiguous; a
    divided-then-compared double would wobble on near-equal sums).
    Signals emit only at full 20-row lookback and only on a sign
    FLIP (lag of the side), the event-not-state form downstream
    alerting wants. Scale: both frames + the lag share one per-user
    sort — single exchange, three Window passes."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    f5 = ws.rowsBetween(-4, 0)
    f20 = ws.rowsBetween(-19, 0)
    vdec = F.col("value").cast("string").cast(DEC)
    s = ev.select("user_id", "event_id", "ts",
                  F.sum(vdec).over(f5).alias("s5"),
                  F.sum(vdec).over(f20).alias("s20"),
                  F.count("value").over(f20).alias("n20"))
    side = (F.when(F.col("s5") * 4 > F.col("s20"), 1)
             .when(F.col("s5") * 4 < F.col("s20"), -1).otherwise(0))
    d = s.filter(F.col("n20") == 20).select(
        "user_id", "event_id", "ts", side.alias("side"))
    x = d.select("user_id", "event_id", "side",
                 F.lag("side").over(ws).alias("prev_side"))
    return (x.filter(F.col("prev_side").isNotNull()
                     & (F.col("side") != 0)
                     & (F.col("prev_side") != F.col("side")))
             .select("user_id", "event_id",
                     F.when(F.col("side") == 1, "golden")
                      .otherwise("death").alias("cross_type"))
             .orderBy("user_id", "event_id"))


# ---------------------------------------------------------------------------
# SELECT * EXCEPT (Spark 4) vs DuckDB EXCLUDE
# ---------------------------------------------------------------------------

_STAR_EXCEPT_SQL = """
SELECT * EXCLUDE (o_custkey, o_orderpriority)
FROM orders
WHERE o_totalprice > 100000
ORDER BY o_orderkey
"""


@query("sql_star_except", oracle=_STAR_EXCEPT_SQL)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT column exclusion [PK — Spark 4 `* EXCEPT`;
    DuckDB spells it `* EXCLUDE`, BigQuery `* EXCEPT`]: project
    everything but named columns — the wide-table ergonomic that
    replaces brittle 40-column SELECT lists (both engines keep table
    order for the remainder; the checker verifies membership and
    values — its column canonicalization is name-sorted). Spark runs
    its native `* EXCEPT (...)` SQL; the oracle runs DuckDB's native
    EXCLUDE — two dialects, one semantics. Scale: pure projection — column
    pruning reaches the scan exactly as with an explicit list."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT * EXCEPT (o_custkey, o_orderpriority)
        FROM orders
        WHERE o_totalprice > 100000
        ORDER BY o_orderkey
    """)


# ---------------------------------------------------------------------------
# ORDER BY ALL
# ---------------------------------------------------------------------------

_ORDER_ALL_SQL = """
SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority, o_orderstatus
ORDER BY ALL
"""


@query("sql_order_by_all", oracle=_ORDER_ALL_SQL)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ALL [PK — DuckDB-originated shorthand, adopted by
    Spark 4]: sort by every select-list column left to right — the
    deterministic-output idiom for ad-hoc aggregates (no forgotten
    tiebreak column). Both engines run the IDENTICAL query text (the
    sql_recursive_cte dialect-pin pattern): if either engine resolved
    ALL to a different column order the hash would diverge. Scale:
    one aggregate + one bounded sort on the (priority × status)
    domain."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_ORDER_ALL_SQL)
