"""Domain feature operators (SURVEY.md §2.9) — the ``hrvanalysis``
surface over the driver's stand-in series (events: record_id=user_id,
beat_ts=ts, rri=value; FIXTURES.md "Domain-feature fixture").

Closed-form features (time-domain, Poincaré, CSI/CVI, geometrical,
stress index, the wide all-family table) are single-pass aggregate
expressions with full SQL oracles. The nonlinear and spectral kernels
(Welch PSD, sample entropy, DFA, Lomb-Scargle, TINN) are Arrow-batched
``applyInPandas`` stages that all go through ``kernel_with_stats``:
the oracle re-derives their exact counts and guard conditions, and the
kernel values themselves are unit-tested against numpy reference
implementations (tests/test_hrv_known_answers.py).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..features import kernels
from ..operators import peaks
from ..features.hrv import (csi_cvi_exprs, poincare_exprs, sliding_windows,
                            time_domain_exprs, time_domain_exprs_by_name,
                            triangular_index, with_diff)
from ..functions.exact import dsum, dsum_sql, r6_sql, safe_sqrt_sql
from .registry import query


def rr_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → RR-interval long table (the engine's domain schema).

    Non-positive intervals are dropped up front — the reference
    pipeline's remove_outliers step runs before any feature math
    [PK:high], and hr = 60000/rri requires rri > 0 (sf0.1 contains
    exact zeros that ANSI mode would fault on)."""
    return load_table(spark, sf_dir, "events").filter((F.col("value") > 0) & ~F.isnan("value")).select(
        F.col("user_id").alias("record_id"),
        F.col("ts").alias("beat_ts"),
        F.col("event_id"),
        F.col("value").alias("rri"),
    )


_RR_CTE = """
WITH rr AS (
  SELECT user_id AS record_id, ts AS beat_ts, value AS rri,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
  FROM events WHERE value > 0 AND NOT isnan(value)
)
"""

_N = "CAST(COUNT(rri) AS DOUBLE)"
_ND = "CAST(COUNT(d) AS DOUBLE)"
_MEAN = f"({dsum_sql('rri')} / {_N})"
_VAR_NNI = f"(({dsum_sql('rri*rri')} - {dsum_sql('rri')} * {dsum_sql('rri')} / {_N}) / ({_N} - 1))"
_MEAN_D2 = f"({dsum_sql('d*d')} / {_ND})"
_VAR_D = f"(({dsum_sql('d*d')} - {dsum_sql('d')} * {dsum_sql('d')} / {_ND}) / ({_ND} - 1))"
_VAR_D_POP = f"(({dsum_sql('d*d')} - {dsum_sql('d')} * {dsum_sql('d')} / {_ND}) / {_ND})"
_MEAN_HR = f"({dsum_sql('60000.0/rri')} / {_N})"
_VAR_HR = f"(({dsum_sql('(60000.0/rri)*(60000.0/rri)')} - {dsum_sql('60000.0/rri')} * {dsum_sql('60000.0/rri')} / {_N}) / ({_N} - 1))"
_VAR_HR_POP = f"(({dsum_sql('(60000.0/rri)*(60000.0/rri)')} - {dsum_sql('60000.0/rri')} * {dsum_sql('60000.0/rri')} / {_N}) / {_N})"
_SD1 = safe_sqrt_sql(f"0.5 * {_VAR_D}")
_SD2 = safe_sqrt_sql(f"2.0 * {_VAR_NNI} - 0.5 * {_VAR_D}")


@query("hrv_time_domain", oracle=f"""{_RR_CTE}
SELECT record_id,
  {r6_sql(_MEAN)} AS mean_nni,
  {r6_sql(safe_sqrt_sql(_VAR_NNI))} AS sdnn,
  {r6_sql(safe_sqrt_sql(_VAR_D_POP))} AS sdsd,
  {r6_sql(f'SQRT({_MEAN_D2})')} AS rmssd,
  {r6_sql('quantile_cont(rri, 0.5)')} AS median_nni,
  MAX(rri) - MIN(rri) AS range_nni,
  {r6_sql(f'SQRT({_MEAN_D2}) / {_MEAN}')} AS cvsd,
  {r6_sql(f'{safe_sqrt_sql(_VAR_NNI)} / {_MEAN}')} AS cvnni,
  CAST(SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS nni_50,
  {r6_sql(f'100.0 * SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) / {_N}')} AS pnni_50,
  CAST(SUM(CASE WHEN ABS(d) > 20 THEN 1 ELSE 0 END) AS BIGINT) AS nni_20,
  {r6_sql(f'100.0 * SUM(CASE WHEN ABS(d) > 20 THEN 1 ELSE 0 END) / {_N}')} AS pnni_20,
  {r6_sql(_MEAN_HR)} AS mean_hr,
  {r6_sql('60000.0 / MIN(rri)')} AS max_hr,
  {r6_sql('60000.0 / MAX(rri)')} AS min_hr,
  {r6_sql(safe_sqrt_sql(_VAR_HR_POP))} AS std_hr
FROM rr GROUP BY record_id
""")
def hrv_time_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 time-domain features in ONE hash aggregate over base+diff
    columns — the reference's per-window python loop collapsed into a
    single distributed groupBy (cites hrvanalysis
    get_time_domain_features [PK:high])."""
    rr = with_diff(rr_from_events(spark, sf_dir), tiebreak_col="event_id")
    return rr.groupBy("record_id").agg(*time_domain_exprs())


@query("hrv_poincare", oracle=f"""{_RR_CTE}
SELECT record_id,
  {r6_sql(_SD1)} AS sd1,
  {r6_sql(_SD2)} AS sd2,
  {r6_sql(f'{_SD2} / {_SD1}')} AS ratio_sd2_sd1
FROM rr GROUP BY record_id
""")
def hrv_poincare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poincaré sd1/sd2 via the closed-form variance identities — no
    scatter rotation needed (property-tested against the rotated
    definition in tests/test_hrv_known_answers.py)."""
    rr = with_diff(rr_from_events(spark, sf_dir), tiebreak_col="event_id")
    return rr.groupBy("record_id").agg(*poincare_exprs())


@query("hrv_csi_cvi", oracle=f"""{_RR_CTE}
SELECT record_id,
  {r6_sql(f'(4*{_SD2}) / (4*{_SD1})')} AS csi,
  {r6_sql(f'LOG10((4*{_SD2}) * (4*{_SD1}))')} AS cvi,
  {r6_sql(f'(4*{_SD2}) * (4*{_SD2}) / (4*{_SD1})')} AS modified_csi
FROM rr GROUP BY record_id
""")
def hrv_csi_cvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    rr = with_diff(rr_from_events(spark, sf_dir), tiebreak_col="event_id")
    return rr.groupBy("record_id").agg(*csi_cvi_exprs())


@query("hrv_geometrical", oracle=f"""
WITH b AS (
  SELECT user_id AS record_id, CAST(FLOOR(value / 7.8125) AS BIGINT) AS bin,
         COUNT(*) AS c
  FROM events WHERE value > 0 AND NOT isnan(value) GROUP BY record_id, bin
)
SELECT record_id,
       {r6_sql('CAST(SUM(c) AS DOUBLE) / MAX(c)')} AS triangular_index
FROM b GROUP BY record_id
""")
def hrv_geometrical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular index: n / max bin count, 7.8125 ms bins (128 Hz
    heritage) — two chained hash aggregations. tinn intentionally
    omitted (see features/hrv.py docstring)."""
    return triangular_index(rr_from_events(spark, sf_dir))


@query("hrv_stress_index", oracle="""
WITH rr AS (
  SELECT user_id AS record_id, value AS rri,
         CAST(FLOOR(value / 50.0) AS BIGINT) AS bin
  FROM events WHERE value > 0 AND NOT isnan(value)
), h AS (
  SELECT record_id, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM rr GROUP BY record_id, bin
), m AS (
  SELECT record_id, bin, cnt,
         row_number() OVER (PARTITION BY record_id
                            ORDER BY cnt DESC, bin) AS rnk
  FROM h
), s AS (
  SELECT record_id, CAST(COUNT(*) AS BIGINT) AS n,
         MAX(rri) AS mx, MIN(rri) AS mn
  FROM rr GROUP BY record_id
)
SELECT s.record_id, s.n,
       CAST(m.bin * 0.05 + 0.025 AS DOUBLE) AS mo_s,
       (100.0 * m.cnt / s.n) AS amo_pct,
       ((s.mx - s.mn) / 1000.0) AS mxdmn_s,
       CASE WHEN (m.bin * 0.05 + 0.025) * ((s.mx - s.mn) / 1000.0) > 0
            THEN (100.0 * m.cnt / s.n)
                 / (2.0 * (m.bin * 0.05 + 0.025) * ((s.mx - s.mn) / 1000.0))
       END AS stress_index
FROM s JOIN m ON s.record_id = m.record_id AND m.rnk = 1
""")
def hrv_stress_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baevsky STRESS INDEX (Kubios's SI): SI = AMo / (2·Mo·MxDMn) with
    the RR histogram binned at 50 ms — Mo the modal bin midpoint (s),
    AMo the modal bin's share of beats (%), MxDMn the RR range (s).
    Completes the geometrical-feature family (triangular index + TINN
    use the 7.8125 ms histogram; SI the 50 ms one). The mode is
    count-then-rank with a deterministic (count desc, bin) tiebreak —
    the agg_mode pattern: the rank stage sees one row per (record,
    bin), never raw beats — and everything else is one aggregate over
    the same (record) partitioning. All derivations are IEEE arithmetic
    on identical operands (FLOOR bins exact on doubles), so the result
    ships UNROUNDED; degenerate records (constant RR → MxDMn = 0) yield
    NULL via the guard instead of faulting ANSI division."""
    ev = (load_table(spark, sf_dir, "events").filter((F.col("value") > 0) & ~F.isnan("value"))
          .select(F.col("user_id").alias("record_id"),
                  F.col("value").alias("rri"),
                  F.floor(F.col("value") / 50.0).cast("long").alias("bin")))
    h = ev.groupBy("record_id", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("record_id").orderBy(F.desc("cnt"), "bin")
    m = (h.withColumn("rnk", F.row_number().over(w))
          .filter(F.col("rnk") == 1).select("record_id", "bin", "cnt"))
    s = ev.groupBy("record_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rri").alias("mx"), F.min("rri").alias("mn"))
    mo_s = F.col("bin") * 0.05 + 0.025
    amo = 100.0 * F.col("cnt") / F.col("n")
    mxdmn = (F.col("mx") - F.col("mn")) / 1000.0
    return (s.join(m, "record_id")
             .select("record_id", "n",
                     mo_s.alias("mo_s"), amo.alias("amo_pct"),
                     mxdmn.alias("mxdmn_s"),
                     F.when(mo_s * mxdmn > 0,
                            amo / (2.0 * mo_s * mxdmn))
                      .alias("stress_index")))


@query("hrv_features_wide", oracle=f"""{_RR_CTE},
agg AS (
  SELECT record_id,
    CAST(COUNT(rri) AS BIGINT) AS n_beats,
    {r6_sql(_MEAN)} AS mean_nni,
    {r6_sql(safe_sqrt_sql(_VAR_NNI))} AS sdnn,
    {r6_sql(f'SQRT({_MEAN_D2})')} AS rmssd,
    {r6_sql(f'100.0 * SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) / {_N}')}
      AS pnni_50,
    {r6_sql(_SD1)} AS sd1,
    {r6_sql(_SD2)} AS sd2,
    {r6_sql(f'(4*{_SD2}) / (4*{_SD1})')} AS csi
  FROM rr GROUP BY record_id),
b AS (
  SELECT user_id AS record_id,
         CAST(FLOOR(value / 7.8125) AS BIGINT) AS bin, COUNT(*) AS c
  FROM events WHERE value > 0 AND NOT isnan(value) GROUP BY record_id, bin),
tri AS (
  SELECT record_id, {r6_sql('CAST(SUM(c) AS DOUBLE) / MAX(c)')}
           AS triangular_index
  FROM b GROUP BY record_id)
SELECT agg.*, tri.triangular_index
FROM agg JOIN tri USING (record_id)
""")
def hrv_features_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE WIDE FEATURE TABLE — the features_creator's actual
    deliverable: every closed-form HRV family (time-domain moments,
    Poincaré sd1/sd2, CSI, triangular index) for every record in ONE
    model-ready row. Plan shape is the point: time-domain + Poincaré
    + CSI are ALL aggregate expressions over the same (rri, diff)
    pass, so they collapse into a SINGLE hash aggregate — one beat
    scan, one exchange of map-side partials, n−1 families for free;
    only the histogram-based triangular index needs its own two-level
    aggregation, joined back broadcast on the tiny per-record key.
    Representative columns per family keep the row honest (full
    16-column time-domain detail lives in hrv_time_domain). Compare
    the reference's one-python-pass-per-family loop."""
    rr = with_diff(rr_from_events(spark, sf_dir), tiebreak_col="event_id")
    agg = (rr.groupBy("record_id")
             .agg(F.count("rri").cast("long").alias("n_beats"),
                  *time_domain_exprs_by_name(
                      ["mean_nni", "sdnn", "rmssd", "pnni_50"]),
                  *poincare_exprs()[:2],  # sd1, sd2
                  *csi_cvi_exprs()[:1]))  # csi
    tri = triangular_index(rr_from_events(spark, sf_dir))
    return agg.join(F.broadcast(tri), "record_id")


_Q15 = 900_000_000  # 15 min in µs


@query("hrv_time_domain_sliding", oracle=f"""
WITH rr0 AS (
  SELECT user_id AS record_id, ts, event_id, value AS rri, epoch_us(ts) AS us
  FROM events WHERE value > 0 AND NOT isnan(value)),
ex AS (
  SELECT record_id, ts, event_id, rri,
         (us // {_Q15}) * {_Q15} - g * {_Q15} AS ws_us
  FROM rr0, unnest(generate_series(0, 3)) AS t(g)),
rr AS (
  SELECT record_id, ws_us, rri,
         rri - lag(rri) OVER (PARTITION BY record_id, ws_us ORDER BY ts, event_id) AS d
  FROM ex)
SELECT record_id, ws_us,
  CAST(COUNT(rri) AS BIGINT) AS n_beats,
  {r6_sql(_MEAN)} AS mean_nni,
  {r6_sql(safe_sqrt_sql(_VAR_NNI))} AS sdnn,
  {r6_sql(f'SQRT({_MEAN_D2})')} AS rmssd,
  CAST(SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS nni_50
FROM rr GROUP BY record_id, ws_us
""")
def hrv_time_domain_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference product shape: HRV features per (record, sliding
    1 h window, 15 min stride) — the per-window python loop of the
    reference pipeline as one distributed plan.

    Implements the SURVEY.md §4 bounded-fan-out strategy explicitly:
    each beat explodes into exactly width/stride = 4 window ids via
    explode(sequence(0,3)) (no unbounded row explosion), the lag-diff
    is computed WITHIN each window (reference slices the series before
    diffing, so diffs never cross window starts), and one hash
    aggregate emits the features. Degenerate 1-beat windows produce
    NULL moments via safe_div rather than faulting."""
    rr = rr_from_events(spark, sf_dir)
    d = sliding_windows(rr, width_us=4 * _Q15, stride_us=_Q15,
                        tiebreak_col="event_id")
    feats = time_domain_exprs_by_name(["mean_nni", "sdnn", "rmssd", "nni_50"])
    return (d.groupBy("record_id", "ws_us")
              .agg(F.count("rri").alias("n_beats"), *feats))


@query("signal_rpeak_detect", oracle="""
WITH ids AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS record_id FROM events),
p AS (SELECT record_id, 70 + record_id % 30 AS period FROM ids),
pk AS (SELECT record_id, period,
              unnest(generate_series(0, 1023 // period)) * period AS peak_idx
       FROM p)
SELECT record_id, peak_idx,
       CAST(peak_idx * 7.8125 AS DOUBLE) AS peak_ms,
       CAST(CASE WHEN peak_idx = 0 THEN NULL
            ELSE period * 7.8125 END AS DOUBLE) AS rr_ms
FROM pk
""")
def signal_rpeak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's step 2 (raw signal → beat locations,
    SURVEY.md §3.1): adaptive-threshold R-peak detection over a sampled
    signal, threshold first — a per-record mean + 3σ aggregate,
    broadcast back to the samples, then a per-record applyInPandas
    refractory scan over only the samples above it (operators/peaks.py
    — see its STUB NOTICE: the signal is a deterministic stand-in, the
    detector/plumbing are real).

    Fully oracle-checked: the stand-in plants beats every 70+id%30
    samples, so the expected beat grid (and RR series) is derivable in
    pure SQL independently of the detector — the oracle asserts the
    kernel finds exactly the planted beats, no more, no less."""
    ids = (load_table(spark, sf_dir, "events")
           .select(F.col("user_id").alias("record_id")).distinct())
    return peaks.detect_rpeaks(peaks.synthetic_signal(ids))


@query("signal_rpeak_detect_pt", oracle="""
WITH ids AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS record_id FROM events)
SELECT record_id,
       CAST(1 + 1023 // (70 + record_id % 30) AS BIGINT) AS n_beats
FROM ids
""")
def signal_rpeak_detect_pt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pan–Tompkins detection chain (band-pass → derivative →
    squaring → moving-window integration → adaptive SPKI/NPKI dual
    threshold; operators/peaks.py pan_tompkins_kernel) over the same
    stand-in signal.

    Unlike the simple detector, PT's integration stage shifts peak
    positions by up to ~10 samples (filter group delay), so the
    oracle asserts the scale-invariant part — the detector finds
    EXACTLY one beat per planted spike (count = 1 + 1023//period per
    record) — while peak-position tolerance is pinned in pytest
    (tests/test_hrv_known_answers.py)."""
    ids = (load_table(spark, sf_dir, "events")
           .select(F.col("user_id").alias("record_id")).distinct())
    beats = peaks.detect_rpeaks_pt(peaks.synthetic_signal(ids))
    return beats.groupBy("record_id").agg(
        F.count("*").cast("long").alias("n_beats"))


# ---------------------------------------------------------------------------
# Round 10 (VERDICT r9 ask 2): the last 6 rows-only kernel ids upgraded
# to FULL SQL oracles via the r9 bound-eval pattern (agg_percentile_approx
# precedent). The FFT/entropy/periodogram VALUES are engine-specific
# artifacts no SQL recomputes, but three claim families ARE
# deterministic and oracle-recomputable:
#   * exact per-group cardinalities (n_beats — strongly data-dependent),
#   * the kernel's own compute/NULL guard conditions, re-derived from
#     decimal-exact sums (with an explicit ambiguity band where the
#     kernel's float cumsum could land on a guard boundary),
#   * mathematical invariants (Parseval-style band-sum identity,
#     non-negativity, normalized-unit sums) emitted as live booleans,
#   * PLANTED synthetic records threaded through the SAME distributed
#     kernel path with provable physics (an LF sinusoid's power lands
#     in the LF band; periodic beats are more regular than noise;
#     integrated noise scales steeper than white noise).
# The raw feature kernels stay untouched and library-accessible
# (features/kernels.py), numerics pinned in tests/test_hrv_known_answers.
# ---------------------------------------------------------------------------

_PLANT_N = 256


def planted_sin(spark: SparkSession, record_id: int,
                freq_hz: float, n: int = _PLANT_N) -> DataFrame:
    """Synthetic RR record: rri_i = 1000 + 100·sin(2π·f·i) ms — beats
    ≈1 s apart, so the resampled signal carries its modulation power
    at ≈f Hz. Built as pure JVM expressions over spark.range (a
    bounded literal frame), deterministic across runs."""
    i = F.col("id").cast("double")
    return spark.range(n).select(
        F.lit(record_id).cast("long").alias("record_id"),
        F.timestamp_micros((F.col("id") * F.lit(1_000_000)).cast("long"))
         .alias("beat_ts"),
        F.col("id").alias("event_id"),
        (F.lit(1000.0)
         + F.lit(100.0) * F.sin(F.lit(2.0 * math.pi * freq_hz) * i))
        .alias("rri"))


def planted_u01(i: F.Column) -> F.Column:
    """Deterministic uniform-ish [0,1): fract(sin((i+1)·12.9898)
    ·43758.5453) — the classic hash-free pseudo-noise; only drives
    planted-physics booleans with wide margins, never hashed values."""
    x = F.sin((i + F.lit(1.0)) * F.lit(12.9898)) * F.lit(43758.5453)
    return x - F.floor(x)


def planted_noise(spark: SparkSession, record_id: int, n: int,
                  integrate: bool = False) -> DataFrame:
    """Synthetic noise record: white (iid uniform, DFA α≈0.5, high
    SampEn) or integrated/Brownian (cumsum of centered uniform, DFA
    α≈1.5). The ±3·n/2 worst-case walk keeps integrated rri > 0."""
    i = F.col("id").cast("double")
    base = spark.range(n).select(
        F.lit(record_id).cast("long").alias("record_id"),
        F.timestamp_micros((F.col("id") * F.lit(1_000_000)).cast("long"))
         .alias("beat_ts"),
        F.col("id").alias("event_id"),
        planted_u01(i).alias("u"))
    if not integrate:
        return base.select(
            "record_id", "beat_ts", "event_id",
            (F.lit(900.0) + F.lit(200.0) * F.col("u")).alias("rri"))
    w = W.partitionBy("record_id").orderBy("event_id") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    return base.select(
        "record_id", "beat_ts", "event_id",
        (F.lit(1000.0)
         + F.lit(3.0) * F.sum(F.col("u") - F.lit(0.5)).over(w))
        .alias("rri"))


def planted_periodic(spark: SparkSession, record_id: int,
                     n: int = 200) -> DataFrame:
    """Strictly periodic record (800/1000/1200 ms repeating): every
    m-template recurs at its phase, so SampEn is near 0 — provably
    below any non-degenerate noise record's."""
    return spark.range(n).select(
        F.lit(record_id).cast("long").alias("record_id"),
        F.timestamp_micros((F.col("id") * F.lit(1_000_000)).cast("long"))
         .alias("beat_ts"),
        F.col("id").alias("event_id"),
        (F.lit(800.0) + F.lit(200.0) * (F.col("id") % 3).cast("double"))
        .alias("rri"))


_RR4 = """
  SELECT user_id AS record_id, ts, event_id, value AS rri
  FROM events WHERE value > 0 AND NOT isnan(value)
"""

# Exact per-record beat count the oracle re-derives. The guard stats
# (decimal-exact Σrri, max rri, first rri) live ONLY on the Spark side
# — the oracle's claim columns are the constants the live checks must
# land on, so it never needs them. The resample-grid estimate is
# ceil((Σ−first)/250 ms); the kernel's own float cumsum can disagree
# only within ±(max rri)/250 grid cells (first-beat tie ambiguity +
# last-ulp drift), hence the claim's guard band.
_FREQ_ST = """
st AS (
  SELECT record_id, CAST(COUNT(rri) AS BIGINT) AS n_beats
  FROM rr GROUP BY record_id)
"""


def kernel_with_stats(rows: DataFrame, planted: list[DataFrame],
                      keys: list[str], kernel: Callable, schema: str,
                      stats: list[Column]) -> DataFrame:
    """The bound-eval shape of every Arrow-kernel id: the grouped
    ``kernel`` (output ``schema``) joined on ``keys`` to the exact
    ``stats`` aggregates, over ``rows`` plus the ``planted`` frames.

    Both branches read ONE ``filter(keys IS NOT NULL).repartition(*keys)``
    of that input, so their subtrees are identical and AQE reuses a
    single exchange: the events are scanned once, and no cache is
    needed to share them (a cached input or kernel output stays pinned
    until someone clears it). This holds only while ``stats`` read every
    column the kernel reads: Catalyst prunes each branch to the columns
    it uses, and a narrower stats branch scans its own relation. An id
    whose only stat would be the row count passes no ``stats`` and gets
    the kernel output alone, whose row count is exact too.

    The non-null filter states what the final inner join infers anyway,
    since a null key never survives it; written below the repartition
    it keeps the two subtrees byte-identical, where the opaque kernel
    node would otherwise keep the inferred filter from reaching the
    kernel side's scan. The kernel reads its columns by name, so a
    column only the stats need rides through Arrow unused. A kernel
    column that ``stats`` also emits (its row count) is dropped: the
    exact aggregate wins."""
    allrr = (reduce(DataFrame.unionByName, planted, rows)
             .filter(reduce(operator.and_,
                            [F.col(k).isNotNull() for k in keys]))
             .repartition(*keys))
    feats = allrr.groupBy(*keys).applyInPandas(kernel, schema=schema)
    if not stats:
        return feats
    st = allrr.groupBy(*keys).agg(*stats)
    return feats.drop(*[c for c in st.columns if c not in keys]).join(st, keys)


def planted_pair(planted: list[DataFrame], ids: tuple[int, int],
                 kernel: Callable, schema: str, col: str) -> DataFrame:
    """One row ``(lo, hi)``: the kernel's ``col`` on planted record
    ``ids[0]`` and on ``ids[1]``, from a kernel run over the ``planted``
    frames alone (a few hundred literal rows). An ordering claim
    between the pair reads this row, so the main kernel runs once."""
    out = (reduce(DataFrame.unionByName, planted).groupBy("record_id")
           .applyInPandas(kernel, schema=schema))
    lo_id, hi_id = ids
    return out.agg(
        F.max(F.when(F.col("record_id") == lo_id, F.col(col))).alias("lo"),
        F.max(F.when(F.col("record_id") == hi_id, F.col(col))).alias("hi"))


def _kernel_n_beats() -> Column:
    """The kernel's own row count as ``n_beats``, for an id with no
    stats branch. Never NULL; the coalesce types it NOT NULL, as an
    aggregate count is."""
    return F.coalesce(F.col("n_beats"), F.lit(0)).alias("n_beats")


def _welch_stats() -> list[Column]:
    """Guard stats of the Welch kernels: exact count, decimal-exact
    Σrri, max rri and the first beat's rri (min_by picks it in the
    aggregate, no per-group sort)."""
    return [F.count("rri").cast("long").alias("n_beats"),
            dsum("rri").alias("s"),
            F.max("rri").alias("mx"),
            F.min_by("rri", F.struct("beat_ts", "event_id"))
             .alias("first_rri")]


def _welch_claims() -> tuple[Column, Column]:
    """``computed_ok`` and ``internal_ok`` of the Welch kernels over
    ``_welch_stats`` (see hrv_freq_domain's docstring)."""
    grid_est = F.ceil((F.col("s") - F.col("first_rri")) / F.lit(250.0))
    guard = F.ceil(F.col("mx") / F.lit(250.0)) + F.lit(2)
    tp = F.col("total_power")
    computed_ok = (
        F.when(F.col("n_beats") < 16, tp.isNull())
         .when(grid_est >= 32 + guard, tp.isNotNull())
         .when(grid_est <= 32 - guard, tp.isNull())
         .otherwise(F.lit(True)))
    internal_ok = F.when(tp.isNull(), F.lit(True)).otherwise(
        (tp == F.col("vlf") + F.col("lf") + F.col("hf"))
        & (F.col("vlf") >= 0) & (F.col("lf") >= 0) & (F.col("hf") >= 0)
        & F.coalesce(F.abs(F.col("lfnu") + F.col("hfnu") - 100.0) < 1e-9,
                     F.lit(True)))
    return (computed_ok.alias("computed_ok"),
            F.coalesce(internal_ok, F.lit(False)).alias("internal_ok"))


@query("hrv_freq_domain", oracle=f"""
WITH rr AS ({_RR4}),
{_FREQ_ST}
SELECT record_id, n_beats,
       TRUE AS computed_ok, TRUE AS internal_ok, TRUE AS band_ok
FROM st
UNION ALL SELECT -101, {_PLANT_N}, TRUE, TRUE, TRUE
UNION ALL SELECT -102, {_PLANT_N}, TRUE, TRUE, TRUE
""")
def hrv_freq_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch PSD band powers per record via applyInPandas (Arrow batch
    per group; pre-select trims the UDF input so pruning reaches the
    scan). Upgraded rows-only → BOUND EVAL (round 10, VERDICT r9 ask
    2): the LIVE kernel runs over real records PLUS two planted
    sinusoid records (−101 at 0.10 Hz = LF, −102 at 0.30 Hz = HF) and
    the op emits oracle-recomputable claims —
      n_beats        exact count (hash-strong, data-dependent);
      computed_ok    the kernel's n≥16 / grid≥32 compute guard,
                     re-derived from decimal-exact sums with a
                     ±(max rri)/250-cell ambiguity band where the
                     kernel's float cumsum could straddle the grid
                     boundary (claim abstains there);
      internal_ok    Parseval-style identity total = vlf+lf+hf (the
                     kernel's own fold order, bit-exact through
                     Arrow), band non-negativity, lfnu+hfnu = 100;
      band_ok        planted physics: the LF-planted record's lf
                     must exceed 5·hf and vice versa — the end-to-end
                     proof the resample→Welch→band-integrate path
                     puts power where the signal is.
    A kernel regression flips a boolean and hash-mismatches; raw band
    powers stay library-accessible (kernels.freq_domain_kernel) and
    known-answer-tested."""
    j = kernel_with_stats(
        rr_from_events(spark, sf_dir),
        [planted_sin(spark, -101, 0.10), planted_sin(spark, -102, 0.30)],
        ["record_id"], kernels.freq_domain_kernel, kernels.FREQ_SCHEMA,
        _welch_stats())
    band_ok = (
        F.when(F.col("record_id") == -101,
               F.coalesce(F.col("lf") > 5 * F.col("hf"), F.lit(False)))
         .when(F.col("record_id") == -102,
               F.coalesce(F.col("hf") > 5 * F.col("lf"), F.lit(False)))
         .otherwise(F.lit(True)))
    return j.select("record_id", "n_beats", *_welch_claims(),
                    band_ok.alias("band_ok"))


_SAMPEN_CAP = 2000  # O(n²) kernel input bound per record (see docstring)


@query("hrv_sampen", oracle=f"""
WITH rr AS ({_RR4}),
rk AS (SELECT record_id, rri,
              row_number() OVER (PARTITION BY record_id
                                 ORDER BY ts, event_id) AS rn,
              COUNT(*) OVER (PARTITION BY record_id) AS n_tot
       FROM rr),
st AS (
  SELECT record_id, CAST(COUNT(rri) AS BIGINT) AS n_beats,
         COUNT(DISTINCT rri) AS nd
  FROM rk
  WHERE (rn - 1) % ((n_tot + {_SAMPEN_CAP - 1}) // {_SAMPEN_CAP}) = 0
  GROUP BY record_id)
SELECT record_id, n_beats,
       TRUE AS nonneg_ok, TRUE AS null_guard_ok, TRUE AS ordering_ok
FROM st
UNION ALL SELECT -401, 200, TRUE, TRUE, TRUE
UNION ALL SELECT -402, 200, TRUE, TRUE, TRUE
""")
def hrv_sampen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m=2, r=0.2·std) per record over a DETERMINISTIC
    STRIDED SUBSAMPLE of ≤{_SAMPEN_CAP} beats — stride
    ceil(n/{_SAMPEN_CAP}) over the (beat_ts, event_id) rank, so a long
    record contributes beats from its WHOLE span, not its first ~33
    minutes (round 11, VERDICT r10 ask 4: the round-10 prefix cap was
    a biased sample of a long recording — entropy of the first K beats
    ≠ entropy of the recording). Records at or under the cap are
    untouched (stride 1). Round 10 moved the long-documented 'bound
    group size upstream' advice INTO the plan after the skew fixture's
    200k-beat hot record showed an unbounded O(n²) group is a
    wall-clock grenade, not a theory. At 100 TB run per (record,
    bounded window), never per raw record; n_beats reports the BOUNDED
    count the kernel saw. Caveat stated plainly: at stride s > 1 the
    kernel sees the DECIMATED series, so SampEn is that of the
    subsampled dynamics — unbiased in coverage, coarser in timescale.

    Upgraded rows-only → BOUND EVAL (round 10): the live kernel runs
    over real records PLUS a planted strictly-periodic record (−401:
    every template recurs → SampEn near 0) and a planted noise record
    (−402: iid uniform → SampEn ≈ 2), emitting
      n_beats        exact count;
      nonneg_ok      SampEn = −log(A/B) with A ⊆ B template matches
                     ⇒ always ≥ 0 when defined;
      null_guard_ok  n < m+2 or a constant series (r = 0.2·std = 0)
                     MUST yield NULL — both conditions SQL-exact;
      ordering_ok    planted physics: SampEn(periodic) <
                     SampEn(noise), the regularity ordering the
                     statistic exists to measure (checked on the
                     planted pair, TRUE elsewhere)."""
    rr = rr_from_events(spark, sf_dir)
    # The upstream bound the docstring demands, IN the plan: SampEn
    # runs over ≤ _SAMPEN_CAP beats per record taken at a DETERMINISTIC
    # STRIDE ceil(n/cap) over the (beat_ts, event_id) rank — unbiased
    # whole-record coverage (round 11; the r10 prefix form oversampled
    # the recording's head) — so one hot record (the skew fixture
    # plants a 200k-beat user) can never hand the O(n²) kernel an
    # unbounded group. The cap is far above every normal fixture's
    # per-record beat count (≤ ~900), so stride 1 everywhere but the
    # planted hot record. Rank and per-record count share ONE
    # record_id exchange (same partitioning, two window specs).
    wcap = W.partitionBy("record_id").orderBy("beat_ts", "event_id")
    wtot = W.partitionBy("record_id")
    stride = F.expr(f"(n_tot + {_SAMPEN_CAP - 1}) div {_SAMPEN_CAP}")
    capped = (rr.withColumn("rn", F.row_number().over(wcap))
                .withColumn("n_tot", F.count(F.lit(1)).over(wtot))
                .filter((F.col("rn") - 1) % stride == 0))
    # The stats read no beat_ts, so their branch repartitions narrower
    # rows of its own; both branches still share the cap windows'
    # exchange, so the events are scanned once.
    cols = ["record_id", "beat_ts", "rri"]
    planted = [planted_periodic(spark, -401, 200).select(cols),
               planted_noise(spark, -402, 200).select(cols)]
    j = (kernel_with_stats(
            capped.select(cols), planted, ["record_id"],
            kernels.sampen_kernel, kernels.SAMPEN_SCHEMA,
            [F.count("rri").cast("long").alias("n_beats"),
             F.countDistinct("rri").alias("nd")])
         .crossJoin(F.broadcast(planted_pair(
             planted, (-401, -402), kernels.sampen_kernel,
             kernels.SAMPEN_SCHEMA, "sampen"))))
    se = F.col("sampen")
    nonneg_ok = F.when(se.isNull(), F.lit(True)).otherwise(se >= 0)
    null_guard_ok = F.when(
        (F.col("n_beats") < 4) | (F.col("nd") == 1), se.isNull()
    ).otherwise(F.lit(True))
    ordering_ok = F.when(
        F.col("record_id").isin(-401, -402),
        F.coalesce(F.col("lo") < F.col("hi"), F.lit(False))
    ).otherwise(F.lit(True))
    return j.select("record_id", "n_beats",
                    nonneg_ok.alias("nonneg_ok"),
                    null_guard_ok.alias("null_guard_ok"),
                    ordering_ok.alias("ordering_ok"))


@query("hrv_dfa", oracle="""
WITH rr AS (
  SELECT user_id AS record_id, value AS rri
  FROM events WHERE value > 0 AND NOT isnan(value)),
st AS (
  SELECT record_id, CAST(COUNT(rri) AS BIGINT) AS n_beats,
         COUNT(DISTINCT rri) AS nd
  FROM rr GROUP BY record_id)
SELECT record_id, n_beats,
       n_beats >= 32 AND nd > 1 AS computed,
       TRUE AS physics_ok, TRUE AS ordering_ok
FROM st
UNION ALL SELECT -201, 512, TRUE, TRUE, TRUE
UNION ALL SELECT -202, 512, TRUE, TRUE, TRUE
""")
def hrv_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis α1 per record (Peng et al.; the
    nonlinear HRV index nolds/Kubios report alongside SampEn) — box
    sizes 4..16 beats, least-squares detrend per box, log-log slope.
    Arrow `applyInPandas` per record with a 3-column pre-select (house
    rule: UDF input pruned so the scan stays narrow); the kernel is
    O(N·|boxes|) vectorized numpy. At 100 TB run per (record, bounded
    window) like the sliding HRV plans, never per unbounded record.

    Upgraded rows-only → BOUND EVAL (round 10, VERDICT r9 ask 2): the
    live kernel runs over real records PLUS a planted white-noise
    record (−201, iid uniform → α≈0.5) and its integrated/Brownian
    twin (−202, cumsum of the SAME noise → α≈1.5), emitting
      n_beats      exact count;
      computed     the kernel's guard re-derived exactly: α is defined
                   iff n ≥ 2·max(box)=32 and the series is
                   non-constant (a constant series integrates to a
                   line every box detrends to zero residual);
      physics_ok   planted ranges α∈(0.2,0.8) white / (1.2,1.8)
                   Brownian — the canonical DFA signatures;
      ordering_ok  α(white) < α(Brownian) — integration steepens the
                   fluctuation scaling, checked on the planted pair
                   through the SAME distributed path."""
    cols = ["record_id", "beat_ts", "rri"]
    planted = [planted_noise(spark, -201, 512).select(cols),
               planted_noise(spark, -202, 512, integrate=True).select(cols)]
    j = (kernel_with_stats(
            rr_from_events(spark, sf_dir).select(cols), planted,
            ["record_id"], kernels.dfa_kernel, kernels.DFA_SCHEMA, [])
         .crossJoin(F.broadcast(planted_pair(
             planted, (-201, -202), kernels.dfa_kernel, kernels.DFA_SCHEMA,
             "dfa_alpha1"))))
    a = F.col("dfa_alpha1")
    physics_ok = (
        F.when(F.col("record_id") == -201,
               F.coalesce((a > 0.2) & (a < 0.8), F.lit(False)))
         .when(F.col("record_id") == -202,
               F.coalesce((a > 1.2) & (a < 1.8), F.lit(False)))
         .otherwise(F.lit(True)))
    ordering_ok = F.when(
        F.col("record_id").isin(-201, -202),
        F.coalesce(F.col("lo") < F.col("hi"), F.lit(False))
    ).otherwise(F.lit(True))
    return j.select("record_id", _kernel_n_beats(),
                    a.isNotNull().alias("computed"),
                    physics_ok.alias("physics_ok"),
                    ordering_ok.alias("ordering_ok"))


@query("hrv_lomb_scargle", oracle="""
WITH rr AS (
  SELECT user_id AS record_id, value AS rri
  FROM events WHERE value > 0 AND NOT isnan(value)),
st AS (
  SELECT record_id, CAST(COUNT(rri) AS BIGINT) AS n_beats
  FROM rr GROUP BY record_id)
SELECT record_id, n_beats,
       n_beats >= 16 AS computed,
       TRUE AS internal_ok, TRUE AS band_ok
FROM st
UNION ALL SELECT -301, 256, TRUE, TRUE, TRUE
UNION ALL SELECT -302, 256, TRUE, TRUE, TRUE
""")
def hrv_lomb_scargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle LF/HF band powers per record — the PSD estimator
    that works DIRECTLY on unevenly-sampled beat times (no 4 Hz
    resampling step), which is the physiologically faithful
    frequency-domain method for RR series; hrvanalysis exposes the same
    choice via its `psd_method='lomb'` [PK:high]. Classical normalized
    periodogram (Press-Rybicki τ form) vectorized over the frequency
    grid.

    Upgraded rows-only → BOUND EVAL (round 10): the live kernel runs
    over real records PLUS two planted sinusoid records (−301 at
    0.10 Hz = LF, −302 at 0.30 Hz = HF), emitting
      n_beats      exact count;
      computed     the kernel's exact guard: band powers are non-NULL
                   iff n ≥ 16 (a zero-variance series still yields a
                   zero — not NULL — periodogram);
      internal_ok  the normalized periodogram is a sum of squares ⇒
                   lf ≥ 0 ∧ hf ≥ 0, and lf_hf = lf/hf when hf > 0;
      band_ok      planted physics: the LF-planted record's lf must
                   exceed 5·hf and vice versa — uneven-sampling
                   spectral estimation proven through the SAME
                   distributed path the real records take."""
    cols = ["record_id", "beat_ts", "rri"]
    j = kernel_with_stats(
        rr_from_events(spark, sf_dir).select(cols),
        [planted_sin(spark, -301, 0.10).select(cols),
         planted_sin(spark, -302, 0.30).select(cols)],
        ["record_id"], kernels.lomb_kernel, kernels.LOMB_SCHEMA, [])
    lf, hf = F.col("lf_lomb"), F.col("hf_lomb")
    internal_ok = F.when(lf.isNull(), F.lit(True)).otherwise(
        (lf >= 0) & (hf >= 0)
        & F.coalesce(F.abs(F.col("lf_hf_lomb") - lf / hf) < 1e-9,
                     F.lit(True)))
    band_ok = (
        F.when(F.col("record_id") == -301,
               F.coalesce(lf > 5 * hf, F.lit(False)))
         .when(F.col("record_id") == -302,
               F.coalesce(hf > 5 * lf, F.lit(False)))
         .otherwise(F.lit(True)))
    return j.select("record_id", _kernel_n_beats(),
                    lf.isNotNull().alias("computed"),
                    F.coalesce(internal_ok, F.lit(False))
                     .alias("internal_ok"),
                    band_ok.alias("band_ok"))


@query("hrv_tinn", oracle="""
WITH b AS (
  SELECT user_id AS record_id,
         CAST(FLOOR(value / 7.8125) AS BIGINT) AS bin, COUNT(*) AS c
  FROM events WHERE value > 0 AND NOT isnan(value)
  GROUP BY record_id, bin),
st AS (
  SELECT record_id,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(MAX(bin) - MIN(bin) + 1 AS BIGINT) AS bin_span,
         MIN(bin) AS lo, MAX(bin) AS hi,
         MIN(CASE WHEN c = mc THEN bin END) AS mode_bin
  FROM (SELECT record_id, bin, c,
               MAX(c) OVER (PARTITION BY record_id) AS mc FROM b)
  GROUP BY record_id)
SELECT record_id, n_bins, bin_span,
       bin_span >= 3 AND mode_bin > lo AND mode_bin < hi AS computed,
       TRUE AS tinn_in_range
FROM st
""")
def hrv_tinn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TINN — baseline width of the least-squares triangular fit to the
    NN-interval histogram (7.8125 ms bins, the 128 Hz-heritage width
    shared with hrv_geometrical). The public hrvanalysis package
    returns tinn=None (unimplemented); this follows the Kubios /
    Task-Force definition instead: search (N, M) around the modal bin
    minimizing Σ(D−q)², q the triangle 0 at N and M peaking at D(X).

    O(bins²) per record inside an Arrow kernel — bounded because the
    physiologic RR range caps the bin count (~hundreds), independent of
    beat count; the heavy reduction (histogramming) happens FIRST via a
    distributed groupBy so the kernel sees (record, bin, count) rows,
    never raw beats. Known-answer-tested in
    tests/test_hrv_known_answers.py.

    Upgraded rows-only → BOUND EVAL (round 10, VERDICT r9 ask 2; the
    O(B³) search itself is not SQL-recomputable but its guard and
    geometry are INTEGER-exact):
      n_bins        exact occupied-bin count (hash-strong);
      bin_span      exact max−min+1 histogram support;
      computed      the kernel returns a fit iff span ≥ 3 AND the
                    (first-argmax) modal bin is interior — a mode at
                    either support edge leaves no N (resp. M) side to
                    search. The LIVE null-guard vs the oracle's
                    integer re-derivation (argmax ties break to the
                    lowest bin on both engines);
      tinn_in_range the fitted baseline is structurally N < X < M on
                    the bin grid ⇒ tinn ∈ [2, span−1]·7.8125 and an
                    exact bin-width multiple (live check; TRUE when
                    not computed).
    The raw tinn value stays library-accessible (kernels.tinn_fit)."""
    binned = (rr_from_events(spark, sf_dir).groupBy(
        "record_id",
        F.floor(F.col("rri") / F.lit(7.8125)).cast("long").alias("bin"))
        .agg(F.count("*").alias("c")))
    # n_bins counts the occupied bins (c > 0, which every row is): it
    # reads c, as the kernel does, so the two branches share one input.
    j = kernel_with_stats(
        binned, [], ["record_id"], kernels.tinn_kernel, kernels.TINN_SCHEMA,
        [F.count_if(F.col("c") > 0).cast("long").alias("n_bins"),
         (F.max("bin") - F.min("bin") + 1).cast("long").alias("bin_span")])
    t = F.col("tinn")
    in_range = F.when(t.isNull(), F.lit(True)).otherwise(
        (t >= 2 * 7.8125) & (t <= (F.col("bin_span") - 1) * 7.8125)
        & (t / 7.8125 == F.round(t / 7.8125, 0)))
    return j.select("record_id", "n_bins", "bin_span",
                    t.isNotNull().alias("computed"),
                    F.coalesce(in_range, F.lit(False))
                     .alias("tinn_in_range"))


_PIPE_CTE = f"""
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value BETWEEN 1.0 AND 250.0 THEN value END AS v,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT event_id, user_id, ts, v, rn,
    last_value(v IGNORE NULLS) OVER wb AS prev_v,
    first_value(v IGNORE NULLS) OVER wa AS next_v,
    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wb AS prev_rn,
    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wa AS next_rn
  FROM g
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wa AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), interp AS (
  SELECT event_id, user_id, ts,
    ROUND(CASE WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v) * (rn - prev_rn) / (next_rn - prev_rn)
          END, 6) AS rri
  FROM f
), ect AS (
  SELECT event_id, user_id, rri, ts,
         lag(rri) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM interp WHERE rri IS NOT NULL
), rr AS (
  SELECT user_id AS record_id, ts, event_id, rri,
         rri - lag(rri) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
  FROM ect
  WHERE prev IS NULL OR ABS(rri - prev) <= 0.2 * prev
)
"""


@query("hrv_pipeline_full", oracle=f"""{_PIPE_CTE}
SELECT record_id,
  CAST(COUNT(rri) AS BIGINT) AS n_beats,
  {{mean}} AS mean_nni,
  {{sdnn}} AS sdnn,
  {{rmssd}} AS rmssd,
  {{nni50}} AS nni_50
FROM rr GROUP BY record_id
""".format(
    mean=r6_sql(_MEAN),
    sdnn=r6_sql(safe_sqrt_sql(_VAR_NNI)),
    rmssd=r6_sql(f"SQRT({_MEAN_D2})"),
    nni50="CAST(SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) AS BIGINT)",
))
def hrv_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's END-TO-END cleaning+features pipeline
    (get_nn_intervals → get_time_domain_features [PK:high]) as ONE
    distributed plan: range outliers → NULL, linear interpolation,
    malik ectopic removal, then time-domain features per record —
    every window stage shares the SAME (user, ts) partitioning, so one
    exchange feeds all four cleaning stages; the only other exchange
    carries map-side aggregate partials (one row per record per
    partition), not beats.

    The reconstructed series is rounded to 1e-6 ms after interpolation
    on BOTH engines: quantization far below physiological resolution,
    and it pins the cross-engine bit-contract before the decimal-exact
    feature sums (registry house rule)."""
    from ..operators.interpolate import interpolate_nan_values

    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("value").between(1.0, 250.0), F.col("value")))
    interp = interpolate_nan_values(
        ev, "v", order_by=["ts", "event_id"], partition_by=["user_id"],
        out_col="rri_raw",
    ).withColumn("rri", F.round("rri_raw", 6)).filter(F.col("rri").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ect = interp.withColumn("prev", F.lag("rri").over(w)).filter(
        F.col("prev").isNull()
        | (F.abs(F.col("rri") - F.col("prev")) <= 0.2 * F.col("prev")))
    rr = ect.select(F.col("user_id").alias("record_id"),
                    F.col("ts").alias("beat_ts"), "event_id", "rri")
    feats = time_domain_exprs_by_name(["mean_nni", "sdnn", "rmssd", "nni_50"])
    return (with_diff(rr, tiebreak_col="event_id")
            .groupBy("record_id")
            .agg(F.count("rri").alias("n_beats"), *feats))


@query("hrv_poincare_sliding", oracle=f"""
WITH rr0 AS (
  SELECT user_id AS record_id, ts, event_id, value AS rri, epoch_us(ts) AS us
  FROM events WHERE value > 0 AND NOT isnan(value)),
ex AS (
  SELECT record_id, ts, event_id, rri,
         (us // {_Q15}) * {_Q15} - g * {_Q15} AS ws_us
  FROM rr0, unnest(generate_series(0, 3)) AS t(g)),
rr AS (
  SELECT record_id, ws_us, rri,
         rri - lag(rri) OVER (PARTITION BY record_id, ws_us ORDER BY ts, event_id) AS d
  FROM ex)
SELECT record_id, ws_us,
  {r6_sql(_SD1)} AS sd1,
  {r6_sql(_SD2)} AS sd2
FROM rr GROUP BY record_id, ws_us
""")
def hrv_poincare_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poincaré sd1/sd2 per (record, sliding window) — same bounded
    explode fan-out and lag-before-explode plan as the time-domain
    sliding query, different feature set; shows the sliding harness is
    feature-family-generic."""
    rr = rr_from_events(spark, sf_dir)
    d = sliding_windows(rr, width_us=4 * _Q15, stride_us=_Q15,
                        tiebreak_col="event_id")
    return (d.groupBy("record_id", "ws_us")
             .agg(*poincare_exprs()[:2]))


_D7 = 7 * 86_400_000_000   # 7 d stride in µs
_D14 = 14 * 86_400_000_000  # 14 d width


@query("hrv_freq_domain_sliding", oracle=f"""
WITH rr0 AS (
  SELECT user_id AS record_id, ts, event_id, value AS rri, epoch_us(ts) AS us
  FROM events WHERE value > 0 AND NOT isnan(value)),
ex AS (
  SELECT record_id, ts, event_id, rri,
         (us // {_D7}) * {_D7} - g * {_D7} AS ws_us
  FROM rr0, unnest(generate_series(0, 1)) AS t(g)),
st AS (
  SELECT record_id, ws_us, CAST(COUNT(rri) AS BIGINT) AS n_beats
  FROM ex GROUP BY record_id, ws_us)
SELECT record_id, ws_us, n_beats,
       TRUE AS computed_ok, TRUE AS internal_ok
FROM st
""")
def hrv_freq_domain_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch band powers per (record, 14 d window, 7 d stride) — the
    frequency-domain twin of hrv_time_domain_sliding and the shape
    that actually scales: the per-record variant (hrv_freq_domain)
    hands each record's WHOLE series to one Arrow group, fine for
    bounded fixtures but a one-task hotspot for a year-long record;
    windowed groups are bounded by construction. Reuses the
    lag-before-explode sliding fan-out (features/hrv.py) — the d
    column is unused here but the ws_us assignment and bounded
    explode(sequence) are identical — then one applyInPandas over
    (record, ws) with a 5-column pre-select."""
    rr = rr_from_events(spark, sf_dir)
    # window sized to the fixture's beat density (~2 events/day/user →
    # ~30 beats per 14 d window). Note the SYNTHETIC rri values sum to
    # only seconds of signal time per window, so Welch's ≥32-grid-point
    # guard yields NULL features on this fixture for the per-record op
    # and this one alike — the kernel's numerics are pinned by
    # known-answer tests on realistic series
    # (tests/test_hrv_known_answers.py); what this query exercises is
    # the bounded-window grouping and Arrow plumbing at scale.
    #
    # Upgraded rows-only → BOUND EVAL (round 10): per (record, window)
    # the op emits the exact beat count, the hrv_freq_domain compute
    # guard re-derived from decimal-exact window sums (same ambiguity
    # band), and the Parseval/non-negativity identity — the oracle
    # recomputes the window fan-out and counts exactly, so a dropped
    # or doubled window, a wrong window id, or a guard regression all
    # hash-mismatch. Planted physics lives on the per-record twin
    # (hrv_freq_domain) — this op's job is the windowed fan-out.
    keys = ["record_id", "ws_us"]
    ex = sliding_windows(rr, width_us=_D14, stride_us=_D7,
                         tiebreak_col="event_id")
    j = kernel_with_stats(
        ex.select(*keys, "beat_ts", "event_id", "rri"), [], keys,
        kernels.freq_domain_window_kernel, kernels.FREQ_SLIDING_SCHEMA,
        _welch_stats())
    return j.select(*keys, "n_beats", *_welch_claims())
