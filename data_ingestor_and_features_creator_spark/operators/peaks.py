"""R-peak (QRS) detection stage — the reference pipeline's step 2
(raw sampled signal → beat locations, SURVEY.md §3.1), feeding the RR
series every downstream HRV feature consumes.

Two signal sources feed the same detectors:

- ``synthetic_signal`` — a deterministic stand-in rendered per record
  from the events table's user ids (seeded by Spark's stable murmur3
  ``hash``; reproducible run-to-run). This path SCALES WITH SF, so it
  carries the blow-up correctness evidence.
- real EDF container decode (round 6) — ``scan_edf_rpeaks`` in
  plans/q_media.py parses actual EDF files (operators/codecs.py, the
  Kemp 1992 wire format) and explodes their int16 sample records into
  the identical (record_id, k, amp) relation. Raw bytes on disk →
  decoded samples → beats, end to end, no stubs.

The *detectors* are real vectorized numpy kernels — adaptive-threshold
local-maximum with a refractory period, and the full Pan–Tompkins
chain (public algorithm) — running as Arrow-batched ``applyInPandas``
per record; schema, partitioning and batch shape are the production
plumbing and are what the tests pin.

Scale notes: the adaptive-threshold detector is a two-phase plan. A
hash aggregate computes each record's threshold (mean + 3σ; its
partial step runs map-side, so a few rows per record cross the
shuffle), a broadcast join brings it back to the samples, and only
the samples above it — about 1 % of an ECG record — are regrouped by
record for the refractory scan. The shuffle carries candidates, not
samples; the price is that the sample relation is evaluated twice
(for EDF input, two decodes), which costs less than moving every
sample through the shuffle and Arrow twice. Pan–Tompkins needs the
whole filtered signal, so it still groups one record's contiguous
samples — the natural ECG sharding unit. Both kernels are O(n) per
group and emit ~n/period rows; no driver collect anywhere. At 100 TB,
records shard by (record_id, chunk) with overlap = one refractory
window, exactly like the sliding-HRV split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FS_HZ = 128              # sampling rate of the stand-in signal
N_SAMPLES = 1024         # samples per record (8 s strip)
REFRACTORY = 26          # ≈200 ms at 128 Hz — physiological QRS deadtime

PEAKS_SCHEMA = "record_id bigint, peak_idx bigint, peak_ms double"


def synthetic_signal(records: DataFrame, id_col: str = "record_id",
                     n_samples: int = N_SAMPLES) -> DataFrame:
    """Render a deterministic sampled 'ECG' per record (see STUB
    NOTICE): small hash noise + unit spikes every ``70 + id % 30``
    samples, so each record has a known beat period the tests can
    assert against. Pure expressions — the fan-out is explode(sequence)
    with a fixed bound, the same §4 pattern as the sliding windows."""
    base = records.select(
        F.col(id_col).cast("long").alias("record_id"),
        (F.lit(70) + F.col(id_col).cast("long") % 30).alias("period"),
    ).withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(n_samples - 1))))
    k = F.col("k")
    noise = F.pmod(F.hash(F.col("record_id"), k), F.lit(1000)) / 10000.0  # [0, 0.1)
    spike = F.when(k % F.col("period") == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (base.withColumn("amp", (noise + spike).cast("double"))
                .drop("period"))


def _refractory_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Refractory scan over ONE record's above-threshold samples: a
    candidate within REFRACTORY samples of the last beat replaces it
    if taller, else is dropped (tiny loop over sparse candidates).
    Emits beat index and time in ms."""
    pdf = pdf.sort_values("k")
    amp = pdf["amp"].to_numpy()
    k = pdf["k"].to_numpy()
    peaks: list[int] = []
    last = -(10 * REFRACTORY)
    for i in range(len(k)):
        if k[i] - last < REFRACTORY:
            # keep the taller of the colliding candidates
            if peaks and amp[i] > amp[peaks[-1]]:
                peaks[-1] = i
                last = k[i]
            continue
        peaks.append(i)
        last = k[i]
    idx = k[peaks]
    ms = idx * (1000.0 / FS_HZ)
    return pd.DataFrame({
        "record_id": np.repeat(pdf["record_id"].iloc[0] if len(pdf) else -1,
                               len(peaks)),
        "peak_idx": idx.astype("int64"),
        "peak_ms": ms,
    })


def detect_rpeaks_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Adaptive-threshold local-max peak picker over ONE record's
    samples, in pandas: the record's mean + 3σ threshold, then the
    refractory scan over the samples above it. detect_rpeaks runs the
    same two steps in Spark."""
    pdf = pdf.sort_values("k")
    amp = pdf["amp"].to_numpy()
    return _refractory_kernel(pdf[amp > amp.mean() + 3.0 * amp.std()])


def _with_rr(beats: DataFrame) -> DataFrame:
    """rr_ms as a Spark-side lag over a kernel's output (not computed
    in the kernel) so the first beat gets a real SQL NULL — numpy's NaN
    would not hash-compare as NULL against the oracle."""
    from pyspark.sql import Window as W
    w = W.partitionBy("record_id").orderBy("peak_idx")
    return beats.withColumn(
        "rr_ms", F.col("peak_ms") - F.lag("peak_ms").over(w))


def detect_rpeaks(signal: DataFrame) -> DataFrame:
    """signal (record_id, k, amp) → beats (record_id, peak_idx,
    peak_ms, rr_ms), threshold first:

    1. one threshold per record, ``avg(amp) + 3·stddev_pop(amp)``, as a
       hash aggregate (map-side partials, a few rows per record in the
       shuffle);
    2. a broadcast join back to the samples on a null-safe key (a
       null-keyed record keeps its beats, as in a grouped plan) that
       keeps only the samples above their record's threshold;
    3. the refractory scan over those candidates, per record, as
       ``applyInPandas``.

    Only the candidates (~1 % of an ECG record) cross the shuffle and
    the Arrow boundary; ``signal`` is evaluated twice, once per phase.
    A null sample makes its record's threshold NaN, so that record
    emits no beats, as detect_rpeaks_kernel's numpy mean does."""
    s = signal.select("record_id", "k", "amp")
    amp = F.coalesce(F.col("amp"), F.lit(float("nan")))
    thr = (s.groupBy(F.col("record_id").alias("thr_id"))
             .agg((F.avg(amp) + 3.0 * F.stddev_pop(amp)).alias("thr")))
    # Null-safe on ONE long key: Spark plans eqNullSafe as two keys
    # (coalesce, isnull) probed through a generic hash map, which cost
    # ~0.35 s of a ~2.3 s ecg_ingest land stage against a long-keyed
    # map. The residual keeps a null key apart from a real id that
    # equals the sentinel; as an Or it stays out of the join keys.
    rid, tid, low = s["record_id"], thr["thr_id"], F.lit(-2**63)
    same = ((F.coalesce(rid, low) == F.coalesce(tid, low))
            & ((rid.isNull() & tid.isNull())
               | (rid.isNotNull() & tid.isNotNull())))
    cand = (s.join(F.broadcast(thr), same)
             .filter(F.col("amp") > F.col("thr"))
             .select("record_id", "k", "amp"))
    return _with_rr(cand.groupBy("record_id")
                        .applyInPandas(_refractory_kernel,
                                       schema=PEAKS_SCHEMA))


def pan_tompkins_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """FULL Pan–Tompkins preprocessing chain + adaptive dual-threshold
    decision over ONE record's samples — all numpy convolutions (no
    scipy): crude band-pass as a difference of boxcar moving averages,
    five-point derivative, squaring, 150 ms moving-window integration,
    then the classic SPKI/NPKI running-estimate threshold with a
    refractory period. O(n) per group like the simple detector; the
    signal-peak / noise-peak estimates adapt per candidate, which is
    what makes PT robust to amplitude drift where a global
    mean+3σ threshold is not."""
    pdf = pdf.sort_values("k")
    x = pdf["amp"].to_numpy(dtype=np.float64)
    k = pdf["k"].to_numpy()
    n = len(x)
    if n < 64:
        return pd.DataFrame({"record_id": np.empty(0, dtype="int64"),
                             "peak_idx": np.empty(0, dtype="int64"),
                             "peak_ms": np.empty(0, dtype="float64")})

    def ma(sig: np.ndarray, w: int) -> np.ndarray:
        return np.convolve(sig, np.ones(w) / w, mode="same")

    bp = ma(x, 5) - ma(x, 32)                       # band-pass approx
    deriv = np.convolve(bp, np.array([2.0, 1.0, 0.0, -1.0, -2.0]) / 8.0,
                        mode="same")
    mwi = ma(deriv * deriv, 19)                     # 150 ms at 128 Hz
    # local maxima of the integrated signal are the candidates
    cand = np.flatnonzero((mwi[1:-1] > mwi[:-2]) & (mwi[1:-1] >= mwi[2:])) + 1
    spki = 0.25 * float(mwi.max())                  # signal-peak estimate
    npki = 0.5 * float(mwi.mean())                  # noise-peak estimate
    peaks: list[int] = []
    last = -(10 * REFRACTORY)
    for i in cand:
        thr = npki + 0.25 * (spki - npki)
        if mwi[i] > thr and k[i] - last >= REFRACTORY:
            peaks.append(i)
            last = k[i]
            spki = 0.125 * mwi[i] + 0.875 * spki
        else:
            npki = 0.125 * mwi[i] + 0.875 * npki
    idx = k[np.array(peaks, dtype=int)] if peaks else np.empty(0, dtype="int64")
    return pd.DataFrame({
        "record_id": np.repeat(pdf["record_id"].iloc[0], len(peaks)),
        "peak_idx": np.asarray(idx, dtype="int64"),
        "peak_ms": np.asarray(idx, dtype="float64") * (1000.0 / FS_HZ),
    })


def detect_rpeaks_pt(signal: DataFrame) -> DataFrame:
    """Pan–Tompkins variant of detect_rpeaks (same contract)."""
    return _with_rr(signal.select("record_id", "k", "amp")
                          .groupBy("record_id")
                          .applyInPandas(pan_tompkins_kernel,
                                         schema=PEAKS_SCHEMA))
