"""Round-6j operator additions: the model-evaluation family.

AUC-ROC, log loss, Brier score, calibration bins (ECE), decile
lift/gain, PSI score drift, and thresholded confusion metrics — the
scoring/monitoring passes a training pipeline runs over every model's
predictions at warehouse scale. No model ships in the fixtures, so
the family derives a deterministic pseudo-probability from the data
itself: p = 0.02 + 0.96·(value − min)/(max − min) (pure IEEE of
identical doubles on both engines — min/max broadcast from one
aggregate) and a binary label y = event_type ∈ {click, purchase}.
The statistics are what matter: each is the textbook construction on
the exact-arithmetic toolkit — midranks for AUC (exact rationals),
pinned 9-dp logs for log loss / PSI, DECIMAL sums everywhere, final
doubles identical-expression + 6 dp.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — AUC≡Wilcoxon is
Hanley & McNeil 1982; Brier 1950; ECE is Naeini et al. 2015; PSI and
decile lift/gain are credit-scoring canon; log loss is textbook).

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql, ln9, r6, r6_sql, safe_div
from .registry import query


# Shared score/label derivation (see module docstring). SQL and Spark
# spell the identical arithmetic; the scalar min/max pair broadcasts.
_SCORED_SQL = """
scored AS (
  SELECT e.event_id, e.ts,
         0.02 + 0.96 * (e.value - m.vmin) / (m.vmax - m.vmin) AS p,
         CASE WHEN e.event_type IN ('click', 'purchase')
              THEN 1 ELSE 0 END AS y
  FROM events e, (SELECT MIN(value) AS vmin, MAX(value) AS vmax
                  FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value)) m
  WHERE e.value IS NOT NULL AND NOT isnan(e.value))
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    m = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    p = (0.02 + 0.96 * (F.col("value") - F.col("vmin"))
         / (F.col("vmax") - F.col("vmin")))
    y = F.when(F.col("event_type").isin("click", "purchase"), 1).otherwise(0)
    return (ev.crossJoin(F.broadcast(m))
              .select("event_id", "ts", p.alias("p"), y.alias("y")))


# ---------------------------------------------------------------------------
# AUC-ROC via the rank-sum identity
# ---------------------------------------------------------------------------

_AUC_SQL = f"""
WITH {_SCORED_SQL},
d AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY p),
mr AS (
  SELECT p, t, pos,
         SUM(t) OVER (ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - t + (t + 1) / 2.0 AS midrank
  FROM d),
s AS (
  SELECT CAST(SUM(pos) AS DOUBLE) AS np,
         CAST(SUM(t - pos) AS DOUBLE) AS nn,
         {dsum_sql('pos * midrank')} AS rpos
  FROM mr)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       {r6_sql('(rpos - np * (np + 1.0) / 2.0) / (np * nn)')} AS auc
FROM s
"""


@query("ml_auc_roc", oracle=_AUC_SQL)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC via the Wilcoxon rank-sum identity [PK — Hanley &
    McNeil 1982]: AUC = (R₊ − n₊(n₊+1)/2)/(n₊n₋) with MIDRANKS, so
    heavily tied scores get the exact tie-aware AUC (the trapezoidal
    sweep and the rank identity agree only under midranks). Ranks
    come from the DISTINCT-score table (cumcount − t + (t+1)/2, the
    stat_kruskal_wallis collapse) — no global per-row sort at any
    scale; pos·midrank is an exact .5-quantized rational summed
    through DECIMAL. One number a training pipeline recomputes on
    every eval shard. Scale: one hash agg on score, one tiny
    unpartitioned window over |distinct scores|, one scalar out."""
    sc = _scored(spark, sf_dir)
    d = sc.groupBy("p").agg(F.count(F.lit(1)).alias("t"),
                            F.sum("y").alias("pos"))
    t = F.col("t")
    wcum = W.orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    mr = d.select("pos", "t",
                  (F.sum(t).over(wcum) - t + (t + 1) / 2.0).alias("midrank"))
    s = mr.agg(F.sum("pos").cast("double").alias("np"),
               F.sum(t - F.col("pos")).cast("double").alias("nn"),
               dsum(F.col("pos") * F.col("midrank")).alias("rpos"))
    np_, nn = F.col("np"), F.col("nn")
    auc = (F.col("rpos") - np_ * (np_ + 1.0) / 2.0) / (np_ * nn)
    return s.select(np_.cast("long").alias("n_pos"),
                    nn.cast("long").alias("n_neg"),
                    r6(auc).alias("auc"))


# ---------------------------------------------------------------------------
# Log loss (binary cross-entropy, pinned logs)
# ---------------------------------------------------------------------------

_LOGLOSS_SQL = f"""
WITH {_SCORED_SQL},
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('-(y * ROUND(ln(p), 9)'
                   ' + (1 - y) * ROUND(ln(1.0 - p), 9))')} AS ll
  FROM scored)
SELECT CAST(n AS BIGINT) AS n, {r6_sql('ll / n')} AS log_loss
FROM s
"""


@query("ml_log_loss", oracle=_LOGLOSS_SQL)
def ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY LOG LOSS (cross-entropy) [PK]: −mean(y·ln p + (1−y)·
    ln(1−p)) — the proper scoring rule training actually optimizes,
    next to AUC's rank view. The score derivation clamps p into
    [0.02, 0.98], so both log branches are finite by construction
    (no epsilon fudge); each ln is evaluated once per row and pinned
    to 9 dp (the q_round6d discipline), the sum is DECIMAL, and the
    final mean is one identical double expression rounded 6 dp.
    Scale: one map-side-combined aggregate over one scan."""
    sc = _scored(spark, sf_dir)
    y, p = F.col("y"), F.col("p")
    term = -(y * ln9(p) + (1 - y) * ln9(1.0 - p))
    s = sc.agg(F.count(F.lit(1)).cast("double").alias("n"),
               dsum(term).alias("ll"))
    return s.select(F.col("n").cast("long").alias("n"),
                    r6(F.col("ll") / F.col("n")).alias("log_loss"))


# ---------------------------------------------------------------------------
# Brier score
# ---------------------------------------------------------------------------

_BRIER_SQL = f"""
WITH {_SCORED_SQL},
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dsum_sql('(p - y) * (p - y)')} AS se
  FROM scored)
SELECT CAST(n AS BIGINT) AS n, {r6_sql('se / n')} AS brier
FROM s
"""


@query("ml_brier_score", oracle=_BRIER_SQL)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE [PK — Brier 1950]: mean squared error of the
    probability against the outcome — the calibration-sensitive
    companion to log loss (bounded, no tail blowup, decomposes into
    calibration + refinement). (p−y)² is pure IEEE of identical
    doubles, bounded by 1, DECIMAL-summed; one aggregate, one
    scalar."""
    sc = _scored(spark, sf_dir)
    d = F.col("p") - F.col("y")
    s = sc.agg(F.count(F.lit(1)).cast("double").alias("n"),
               dsum(d * d).alias("se"))
    return s.select(F.col("n").cast("long").alias("n"),
                    r6(F.col("se") / F.col("n")).alias("brier"))


# ---------------------------------------------------------------------------
# Calibration bins (ECE decomposition)
# ---------------------------------------------------------------------------

_ECE_SQL = f"""
WITH {_SCORED_SQL},
b AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS pos,
         {dsum_sql('p')} AS sp
  FROM scored GROUP BY 1),
n AS (SELECT CAST(SUM(n_b) AS DOUBLE) AS n FROM b)
SELECT bin, n_b,
       {r6_sql('sp / n_b')} AS avg_conf,
       {r6_sql('CAST(pos AS DOUBLE) / n_b')} AS frac_pos,
       {r6_sql('(n_b / n.n) * abs(CAST(pos AS DOUBLE) / n_b - sp / n_b)')}
         AS ece_contrib
FROM b, n ORDER BY bin
"""


@query("ml_ece_calibration", oracle=_ECE_SQL)
def ml_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION TABLE + ECE decomposition [PK — expected
    calibration error, Naeini et al. 2015]: 10 equal-width
    probability bins; per bin the mean predicted confidence vs the
    observed positive fraction, and the bin's weighted |gap| — the
    per-bin rows ARE the reliability diagram, and their sum is ECE
    (emitting the decomposition is strictly more checkable than one
    scalar). Bin index FLOOR(p·10) clamped to 9 is exact integer
    arithmetic on identical doubles; confidences DECIMAL-summed;
    observed fractions exact rationals. Scale: one 10-group hash
    aggregate + a 1-row broadcast total."""
    sc = _scored(spark, sf_dir)
    bin_ = F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9))
    b = (sc.groupBy(bin_.alias("bin"))
           .agg(F.count(F.lit(1)).alias("n_b"),
                F.sum("y").alias("pos"),
                dsum("p").alias("sp")))
    n = b.agg(F.sum("n_b").cast("double").alias("n"))
    conf = F.col("sp") / F.col("n_b")
    acc = F.col("pos").cast("double") / F.col("n_b")
    contrib = (F.col("n_b") / F.col("n")) * F.abs(acc - conf)
    return (b.crossJoin(F.broadcast(n))
             .select("bin", "n_b", r6(conf).alias("avg_conf"),
                     r6(acc).alias("frac_pos"),
                     r6(contrib).alias("ece_contrib"))
             .orderBy("bin"))


# ---------------------------------------------------------------------------
# Decile lift / gain table
# ---------------------------------------------------------------------------

_LIFT_SQL = f"""
WITH {_SCORED_SQL},
r AS (
  SELECT y, NTILE(10) OVER (ORDER BY p DESC, event_id) AS decile
  FROM scored),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_d,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM r GROUP BY decile),
t AS (SELECT CAST(SUM(pos) AS DOUBLE) AS tot_pos,
             CAST(SUM(n_d) AS DOUBLE) AS tot_n FROM d)
SELECT decile, n_d, pos,
       {r6_sql('CAST(pos AS DOUBLE) / n_d')} AS response_rate,
       {r6_sql('CAST(SUM(pos) OVER (ORDER BY decile'
               ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)'
               ' AS DOUBLE) / t.tot_pos')} AS cum_gain,
       {r6_sql('(CAST(pos AS DOUBLE) / n_d) / (t.tot_pos / t.tot_n)')}
         AS lift
FROM d, t ORDER BY decile
"""


@query("ml_lift_gain_deciles", oracle=_LIFT_SQL)
def ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT / GAIN table [PK — credit-scoring & campaign-
    targeting canon]: rank by score descending, cut into 10 equal
    NTILE buckets, report per-decile response rate, cumulative gain
    (share of all positives captured through decile k — the gains
    chart), and lift vs the base rate. NTILE is deterministic under
    the (p DESC, event_id) total order and both engines share the
    same NTILE floor-division bucket sizing. Counts exact; ratios
    identical double expressions. Scale note: the NTILE window is
    the one global-sort construct in the family — at 100 TB swap to
    the two-pass range-partitioned global index (data_global_index's
    documented approach); the fixture-scale single sort is the
    honest spelling of the same semantics."""
    sc = _scored(spark, sf_dir)
    wr = W.orderBy(F.desc("p"), "event_id")
    r = sc.select("y", F.ntile(10).over(wr).alias("decile"))
    d = r.groupBy("decile").agg(F.count(F.lit(1)).alias("n_d"),
                                F.sum("y").alias("pos"))
    t = d.agg(F.sum("pos").cast("double").alias("tot_pos"),
              F.sum("n_d").cast("double").alias("tot_n"))
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    rate = F.col("pos").cast("double") / F.col("n_d")
    gain = (F.sum("pos").over(wcum).cast("double") / F.col("tot_pos"))
    lift = rate / (F.col("tot_pos") / F.col("tot_n"))
    return (d.crossJoin(F.broadcast(t))
             .select("decile", "n_d", "pos",
                     r6(rate).alias("response_rate"),
                     r6(gain).alias("cum_gain"),
                     r6(lift).alias("lift"))
             .orderBy("decile"))


# ---------------------------------------------------------------------------
# PSI score drift between time halves
# ---------------------------------------------------------------------------

_PSI_SQL = f"""
WITH {_SCORED_SQL},
f AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM scored),
tagged AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
         CASE WHEN epoch_us(ts) * 2 <= epoch_us(f.lo) + epoch_us(f.hi)
              THEN 1 ELSE 0 END AS first_half
  FROM scored, f),
allbins AS (
  SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin),
c AS (
  SELECT allbins.bin,
         CAST(COALESCE(SUM(first_half), 0) + 1 AS BIGINT) AS ca,
         CAST(COALESCE(SUM(1 - first_half), 0) + 1 AS BIGINT) AS cb
  FROM allbins LEFT JOIN tagged ON tagged.bin = allbins.bin
  GROUP BY allbins.bin),
n AS (SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb
      FROM c),
terms AS (
  SELECT {dsum_sql('(ca / n.na - cb / n.nb)'
                   ' * ROUND(ln((ca / n.na) / (cb / n.nb)), 9)')} AS psi
  FROM c, n)
SELECT CAST((SELECT na FROM n) AS DOUBLE) - 10.0 AS n_first,
       CAST((SELECT nb FROM n) AS DOUBLE) - 10.0 AS n_second,
       {r6_sql('psi')} AS psi
FROM terms
"""


@query("ml_psi_drift", oracle=_PSI_SQL)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX [PK — credit-scoring canon; the
    symmetrized-KL monitor every scorecard runs]: Σ (qᵃ−qᵇ)·
    ln(qᵃ/qᵇ) over 10 equal-width score bins between the first and
    second time halves (midpoint of the integer epoch-µs span —
    exact on both engines), +1 Laplace counts so empty bins stay
    finite. Shares agg_kl_divergence's pinned-log construction but
    answers the drift question on the MODEL SCORE axis with the
    symmetric statistic ops teams alarm on (0.1/0.25 conventions).
    Scale: one 10-group aggregate + scalar frontier broadcast."""
    sc = _scored(spark, sf_dir)
    f_ = sc.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    bin_ = F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9))
    half = F.when(F.unix_micros("ts") * 2
                  <= F.unix_micros("lo") + F.unix_micros("hi"), 1).otherwise(0)
    tagged = (sc.crossJoin(F.broadcast(f_))
                .select(bin_.alias("bin"), half.alias("first_half")))
    # All 10 bin ids are generated EXPLICITLY and the counts
    # left-joined (ADVICE r6): bins empty in BOTH halves would
    # otherwise be absent from the aggregate — skipping their Laplace
    # +1 and making n_first/n_second (= na − 10) off by the number of
    # missing bins whenever fewer than 10 bins are populated.
    bins = spark.range(10).select(F.col("id").alias("bin"))
    counted = tagged.groupBy("bin").agg(
        F.sum("first_half").alias("sa"),
        F.sum(1 - F.col("first_half")).alias("sb"))
    c = (bins.join(counted, "bin", "left")
             .select("bin",
                     (F.coalesce("sa", F.lit(0)) + 1).alias("ca"),
                     (F.coalesce("sb", F.lit(0)) + 1).alias("cb")))
    n = c.agg(F.sum("ca").cast("double").alias("na"),
              F.sum("cb").cast("double").alias("nb"))
    cn = c.crossJoin(F.broadcast(n))
    qa = F.col("ca") / F.col("na")
    qb = F.col("cb") / F.col("nb")
    terms = cn.agg(dsum((qa - qb) * ln9(qa / qb)).alias("psi"),
                   F.max("na").alias("na"), F.max("nb").alias("nb"))
    return terms.select((F.col("na") - 10.0).alias("n_first"),
                        (F.col("nb") - 10.0).alias("n_second"),
                        r6(F.col("psi")).alias("psi"))


# ---------------------------------------------------------------------------
# Thresholded confusion metrics
# ---------------------------------------------------------------------------

_CONFUSION_SQL = f"""
WITH {_SCORED_SQL},
c AS (
  SELECT CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
              AS DOUBLE) AS tp,
         CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS fp,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END)
              AS DOUBLE) AS fn,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS tn
  FROM scored)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       {r6_sql('(tp + tn) / (tp + fp + fn + tn)')} AS accuracy,
       CASE WHEN tp + fp > 0 THEN {r6_sql('tp / (tp + fp)')} END
         AS precision,
       CASE WHEN tp + fn > 0 THEN {r6_sql('tp / (tp + fn)')} END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN {r6_sql('2 * tp / (2 * tp + fp + fn)')} END AS f1
FROM c
"""


@query("ml_confusion_threshold", oracle=_CONFUSION_SQL)
def ml_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX + derived metrics at threshold 0.5 [PK]:
    tp/fp/fn/tn exact conditional counts in ONE aggregate (never
    four scans), accuracy / precision / recall / F1 as identical
    double expressions of exact integers, NULL (not 0/0 fault) on
    degenerate denominators per the safe-division house rule; F1 in
    the 2tp/(2tp+fp+fn) form that needs no intermediate rounding.
    The p ≥ 0.5 comparison is on identical doubles, so the split is
    deterministic cross-engine. Scale: one map-side-combined
    aggregate, constant output."""
    sc = _scored(spark, sf_dir)
    p, y = F.col("p"), F.col("y")
    c = sc.agg(
        F.sum(F.when((p >= 0.5) & (y == 1), 1).otherwise(0))
         .cast("double").alias("tp"),
        F.sum(F.when((p >= 0.5) & (y == 0), 1).otherwise(0))
         .cast("double").alias("fp"),
        F.sum(F.when((p < 0.5) & (y == 1), 1).otherwise(0))
         .cast("double").alias("fn"),
        F.sum(F.when((p < 0.5) & (y == 0), 1).otherwise(0))
         .cast("double").alias("tn"))
    tp, fp = F.col("tp"), F.col("fp")
    fn, tn = F.col("fn"), F.col("tn")
    return c.select(
        tp.cast("long").alias("tp"), fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"), tn.cast("long").alias("tn"),
        r6((tp + tn) / (tp + fp + fn + tn)).alias("accuracy"),
        F.when(tp + fp > 0, r6(tp / (tp + fp))).alias("precision"),
        F.when(tp + fn > 0, r6(tp / (tp + fn))).alias("recall"),
        F.when(2 * tp + fp + fn > 0,
               r6(2 * tp / (2 * tp + fp + fn))).alias("f1"))
