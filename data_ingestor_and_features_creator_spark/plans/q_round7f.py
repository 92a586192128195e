"""Round-7f operator additions: streaming CDC applied into the
copy-on-write table (the round's two themes composed), delta-method
variance for ratio metrics, and the Hurst exponent.

Provenance (SURVEY.md §0 applies — empty reference checkout): the
foreachBatch-upsert sink is the published Structured Streaming +
lakehouse-MERGE pattern [SPARK/PK]; the delta method for ratio-metric
variance is standard A/B methodology (Deng et al. popularized it)
[PK]; rescaled-range analysis is Hurst 1951 / Mandelbrot [PK].

Float discipline (functions/exact.py rules): every cross-row sum of
full-precision doubles is string-routed through DECIMAL(38,12); all
ratio outputs unrounded (win_vwap convention); R/S logs pinned 9 dp;
ln(window-ratio) denominators are Python-pinned literals.

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead of
these in the class-1 queue.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC, dsum_str, dsum_str_sql
from ..operators import snapshots
from .registry import query, scratch_dir


# ---------------------------------------------------------------------------
# Streaming CDC feed applied into the COW table via foreachBatch MERGE
# ---------------------------------------------------------------------------

@query("stream_cow_upsert_sink", oracle=f"""
WITH m AS (SELECT (MAX(event_id) + 1) // 4 AS q FROM events),
base AS (
  SELECT event_id, event_type, value FROM events, m
  WHERE event_id < 2 * m.q),
u1 AS (
  SELECT event_id, event_type, value + 1000.0 AS value
  FROM events, m WHERE event_id >= m.q AND event_id < 2 * m.q),
u2 AS (
  SELECT event_id, event_type, value + 2000.0 AS value
  FROM events, m WHERE event_id >= 2 * m.q AND event_id < 3 * m.q),
merged AS (
  SELECT * FROM base
  WHERE event_id NOT IN (SELECT event_id FROM u1)
  UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_str_sql('value')} AS total_value,
       CAST(3 AS INT) AS head_version
FROM merged GROUP BY event_type
""")
def stream_cow_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC INTO THE LAKEHOUSE — the composition every
    production pipeline ends at: a change feed replayed one file per
    micro-batch (maxFilesPerTrigger=1) lands in the copy-on-write
    table via foreachBatch → merge_cow, one ACID commit per batch
    [SPARK foreachBatch + the MERGE pattern the public formats
    document]. Feed: batch-1 UPDATES the base's upper id-quartile
    (+1000), batch-2 INSERTS the next quartile (+2000); the final
    table must equal the oracle's direct upsert algebra AND the head
    must be version 3 (base + 2 streamed commits) — a dropped batch,
    a double-applied batch, or a torn commit all move the per-type
    totals. At 100 TB this is the CDC landing path whose cost scales
    with affected files (merge_cow is file-granular) and whose reader
    isolation is the manifest snapshot — readers never see half a
    micro-batch."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "event_type", "value"))
    q = (ev.agg(F.max("event_id")).first()[0] + 1) // 4
    base_dir = scratch_dir("stream_cow")
    tdir = os.path.join(base_dir, "table")
    feed = os.path.join(base_dir, "feed")
    ckpt = os.path.join(base_dir, "ckpt")
    snapshots.commit_snapshot(
        ev.filter(F.col("event_id") < 2 * q).repartition(4, "event_id"),
        tdir, mode="overwrite")
    u1 = (ev.filter((F.col("event_id") >= q) & (F.col("event_id") < 2 * q))
            .withColumn("value", F.col("value") + 1000.0))
    u2 = (ev.filter((F.col("event_id") >= 2 * q)
                    & (F.col("event_id") < 3 * q))
            .withColumn("value", F.col("value") + 2000.0))
    # one file per CDC batch, mtimes ordered so the file source
    # replays them in feed order
    for i, batch in enumerate((u1, u2)):
        out = os.path.join(feed, f"b{i}")
        batch.coalesce(1).write.mode("overwrite").parquet(out)
        for f in os.listdir(out):
            os.utime(os.path.join(out, f), (1_000_000 + i, 1_000_000 + i))

    def apply_batch(bdf, batch_id):
        if bdf.isEmpty():
            return
        snapshots.merge_cow(bdf.sparkSession, tdir,
                            bdf.select("event_id", "event_type", "value"),
                            "event_id")

    qy = (spark.readStream.schema(u1.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(os.path.join(feed, "*"))
          .writeStream.foreachBatch(apply_batch)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    qy.awaitTermination()
    head = snapshots.snapshot_versions(tdir)[-1]
    return (snapshots.read_snapshot(spark, tdir)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum_str("value").alias("total_value"))
            .withColumn("head_version", F.lit(head).cast("int")))


# ---------------------------------------------------------------------------
# Delta-method variance for a ratio metric (revenue per event)
# ---------------------------------------------------------------------------

@query("agg_ratio_delta_method", oracle=f"""
WITH pu AS (
  SELECT event_type, user_id,
         {dsum_str_sql('CASE WHEN NOT isnan(value) THEN value END')} AS x,
         CAST(COUNT(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                    THEN 1 END) AS DOUBLE) AS y
  FROM events GROUP BY event_type, user_id),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_str_sql('x')} AS sx, {dsum_str_sql('y')} AS sy,
         {dsum_str_sql('x * x')} AS sxx,
         {dsum_str_sql('y * y')} AS syy,
         {dsum_str_sql('x * y')} AS sxy
  FROM pu WHERE x IS NOT NULL GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n_units,
       sx / sy AS ratio,
       ((sxx - sx * sx / n) / (n - 1.0)
        + (sx / sy) * (sx / sy) * ((syy - sy * sy / n) / (n - 1.0))
        - 2.0 * (sx / sy) * ((sxy - sx * sy / n) / (n - 1.0)))
       / ((sy / n) * (sy / n)) / n AS var_ratio
FROM s WHERE n >= 3 AND sy > 0
""")
def agg_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD VARIANCE for a RATIO METRIC [PK — the A/B
    methodology for per-user ratio metrics like revenue-per-event,
    where the unit of analysis (event) differs from the unit of
    randomization (user), so a naive binomial variance is wrong]:
    R = ΣX/ΣY over users, Var(R) ≈ (s²_x + R²·s²_y − 2R·s_xy)/(n·ȳ²)
    with user-level (X=value sum, Y=event count) pairs. Everything is
    assembled from string-routed DECIMAL sums — the variance terms
    are CANCELLING differences (Σx² − (Σx)²/n, the documented ANOVA
    class) — and the ratio/variance are identical IEEE arithmetic
    emitted UNROUNDED. Two aggregates sharing one shuffle each
    (user-level partials combine map-side); the downstream t-stat is
    R_a − R_b over the pooled SEs — this op is the per-arm input."""
    ev = load_table(spark, sf_dir, "events")
    xcol = F.when(~F.isnan("value"), F.col("value"))
    ok = F.col("value").isNotNull() & ~F.isnan("value")
    pu = (ev.groupBy("event_type", "user_id")
            .agg(dsum_str(xcol).alias("x"),
                 F.count(F.when(ok, 1)).cast("double").alias("y")))
    s = (pu.filter(F.col("x").isNotNull())
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("double").alias("n"),
                dsum_str("x").alias("sx"), dsum_str("y").alias("sy"),
                dsum_str(F.col("x") * F.col("x")).alias("sxx"),
                dsum_str(F.col("y") * F.col("y")).alias("syy"),
                dsum_str(F.col("x") * F.col("y")).alias("sxy")))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = sx / sy
    var_x = (sxx - sx * sx / n) / (n - 1.0)
    var_y = (syy - sy * sy / n) / (n - 1.0)
    cov = (sxy - sx * sy / n) / (n - 1.0)
    var_r = ((var_x + r * r * var_y - 2.0 * r * cov)
             / ((sy / n) * (sy / n)) / n)
    return (s.filter((n >= 3) & (sy > 0))
             .select("event_type", n.cast("long").alias("n_units"),
                     r.alias("ratio"), var_r.alias("var_ratio")))


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range analysis (two dyadic windows)
# ---------------------------------------------------------------------------

_HURST_N1, _HURST_N2 = 16, 64
# ln(64/16) = ln 4, evaluated once in Python and pinned (the slope
# denominator; the per-user RS logs are pinned at 9 dp in-query).
_LN_RATIO = 1.386294361  # round(ln(4), 9)


def _rs_sql(nsize: int) -> str:
    return f"""
  SELECT user_id, {nsize} AS nsize,
         (t - 1) // {nsize} AS blk, t, value
  FROM seq WHERE t <= (cnt // {nsize}) * {nsize}"""


@query("ts_hurst_exponent", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
seq AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS t,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM v),
blocks AS ({_rs_sql(_HURST_N1)} UNION ALL {_rs_sql(_HURST_N2)}),
bm AS (
  SELECT user_id, nsize, blk,
         {dsum_str_sql('value')} AS bsum,
         {dsum_str_sql('value * value')} AS bsq,
         CAST(COUNT(*) AS DOUBLE) AS bn
  FROM blocks GROUP BY user_id, nsize, blk),
dev AS (
  SELECT b.user_id, b.nsize, b.blk,
         CAST(SUM(CAST(CAST(b.value - m.bsum / m.bn AS VARCHAR)
                  AS DECIMAL(38,12)))
              OVER (PARTITION BY b.user_id, b.nsize, b.blk ORDER BY b.t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS cum,
         m.bsq, m.bsum, m.bn
  FROM blocks b JOIN bm m
    ON b.user_id = m.user_id AND b.nsize = m.nsize AND b.blk = m.blk),
rs AS (
  SELECT user_id, nsize, blk,
         MAX(cum) - MIN(cum) AS r,
         SQRT((MAX(bsq) - MAX(bsum) * MAX(bsum) / MAX(bn)) / MAX(bn))
           AS s
  FROM dev GROUP BY user_id, nsize, blk),
rsn AS (
  SELECT user_id, nsize,
         {dsum_str_sql('r / s')} / COUNT(*) AS rs_mean
  FROM rs WHERE s > 0 GROUP BY user_id, nsize),
w AS (
  SELECT a.user_id,
         ROUND(ln(a.rs_mean), 9) AS ln1,
         ROUND(ln(b.rs_mean), 9) AS ln2
  FROM rsn a JOIN rsn b ON a.user_id = b.user_id
  WHERE a.nsize = {_HURST_N1} AND b.nsize = {_HURST_N2}
    AND a.rs_mean > 0 AND b.rs_mean > 0)
SELECT user_id, (ln2 - ln1) / {_LN_RATIO} AS hurst_h
FROM w
""")
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT via rescaled-range analysis (Hurst 1951 /
    Mandelbrot [PK]) per user: H ≈ 0.5 for a random walk, > 0.5 for
    long-range persistence, < 0.5 for mean reversion — the
    long-memory diagnostic beside ts_adf_stat's unit-root question.
    Estimate: mean R/S over complete blocks at two dyadic window
    sizes (16, 64); H = Δln(R/S)/ln(4). Spark-first construction:
    block membership is integer arithmetic on the per-user row
    number; per-block R needs the running cumulative DEVIATION from
    the block mean — a two-pass shape (block aggregates joined back,
    then one framed cumsum) with NO Python. Float discipline: block
    sums and the deviation cumsum are string-routed DECIMAL; R, S and
    R/S are identical IEEE ops; the final logs are pinned 9 dp and
    the slope denominator ln(4) is a Python-pinned literal; H emitted
    unrounded. Degenerate blocks (constant → S = 0) are excluded on
    both engines; users shorter than one 64-block drop out of the
    join — the NULL-feature policy."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("user_id", "ts", "event_id", "value"))
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = W.partitionBy("user_id")
    seq = v.select("user_id", "value",
                   F.row_number().over(wo).alias("t"),
                   F.count(F.lit(1)).over(wc).alias("cnt"))
    blocks = None
    for nsize in (_HURST_N1, _HURST_N2):
        b = (seq.filter(F.col("t")
                        <= (F.col("cnt") / nsize).cast("long") * nsize)
                .select("user_id", F.lit(nsize).alias("nsize"),
                        ((F.col("t") - 1) / nsize).cast("long")
                        .alias("blk"), "t", "value"))
        blocks = b if blocks is None else blocks.unionByName(b)
    bm = blocks.groupBy("user_id", "nsize", "blk").agg(
        dsum_str("value").alias("bsum"),
        dsum_str(F.col("value") * F.col("value")).alias("bsq"),
        F.count(F.lit(1)).cast("double").alias("bn"))
    dev = (blocks.join(bm, ["user_id", "nsize", "blk"])
           .withColumn(
               "cum",
               F.sum((F.col("value") - F.col("bsum") / F.col("bn"))
                     .cast("string").cast(DEC))
               .over(W.partitionBy("user_id", "nsize", "blk")
                     .orderBy("t")
                     .rowsBetween(W.unboundedPreceding, W.currentRow))
               .cast("double")))
    rs = dev.groupBy("user_id", "nsize", "blk").agg(
        (F.max("cum") - F.min("cum")).alias("r"),
        F.sqrt((F.max("bsq") - F.max("bsum") * F.max("bsum")
                / F.max("bn")) / F.max("bn")).alias("s"))
    rsn = (rs.filter(F.col("s") > 0)
             .groupBy("user_id", "nsize")
             .agg((dsum_str(F.col("r") / F.col("s"))
                   / F.count(F.lit(1))).alias("rs_mean")))
    a = rsn.filter((F.col("nsize") == _HURST_N1)
                   & (F.col("rs_mean") > 0)) \
           .select("user_id", F.round(F.log("rs_mean"), 9).alias("ln1"))
    b = rsn.filter((F.col("nsize") == _HURST_N2)
                   & (F.col("rs_mean") > 0)) \
           .select("user_id", F.round(F.log("rs_mean"), 9).alias("ln2"))
    return (a.join(b, "user_id")
             .select("user_id",
                     ((F.col("ln2") - F.col("ln1")) / _LN_RATIO)
                     .alias("hurst_h")))