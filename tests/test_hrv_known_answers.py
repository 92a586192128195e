"""Known-answer + property tests for the HRV feature layer
(SURVEY.md §5 item 2) — pins formula details (ddof, ms units,
thresholds) that the DuckDB oracle alone cannot distinguish."""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_ingestor_and_features_creator_spark.features import kernels
from data_ingestor_and_features_creator_spark.features.hrv import (
    csi_cvi_exprs, poincare_exprs, time_domain_exprs,
    time_domain_exprs_by_name, triangular_index, with_diff)
from data_ingestor_and_features_creator_spark.schemas import RR_INTERVALS


def _rr_df(spark, values, record_id=1):
    base = datetime.datetime(2024, 1, 1)
    rows = []
    t = 0.0
    for v in values:
        rows.append((record_id, base + datetime.timedelta(milliseconds=t), float(v)))
        t += v
    return spark.createDataFrame(rows, schema=RR_INTERVALS)


def test_time_domain_known_answer(spark):
    # FIXTURES.md canonical example: nn=[800,810,790,805], d=[10,-20,15]
    df = with_diff(_rr_df(spark, [800, 810, 790, 805]))
    row = df.groupBy("record_id").agg(*time_domain_exprs()).collect()[0]
    nn = np.array([800.0, 810, 790, 805])
    d = np.diff(nn)
    assert row["mean_nni"] == pytest.approx(801.25)
    assert row["rmssd"] == pytest.approx(math.sqrt((100 + 400 + 225) / 3), abs=1e-6)
    assert row["sdnn"] == pytest.approx(np.std(nn, ddof=1), abs=1e-6)
    assert row["sdsd"] == pytest.approx(np.std(d), abs=1e-6)
    assert row["median_nni"] == pytest.approx(802.5)
    assert row["range_nni"] == pytest.approx(20.0)
    assert row["nni_50"] == 0 and row["nni_20"] == 0
    assert row["pnni_20"] == pytest.approx(0.0)
    assert row["mean_hr"] == pytest.approx(np.mean(60000.0 / nn), abs=1e-6)
    assert row["max_hr"] == pytest.approx(60000.0 / 790, abs=1e-6)
    assert row["std_hr"] == pytest.approx(np.std(60000.0 / nn), abs=1e-6)
    assert row["cvsd"] == pytest.approx(row["rmssd"] / 801.25, abs=1e-6)
    assert row["cvnni"] == pytest.approx(row["sdnn"] / 801.25, abs=1e-6)


def test_nni_thresholds(spark):
    # diffs: [60, -30, 10] → nni_50=1, nni_20=2; pnni divides by len(nn)=4
    df = with_diff(_rr_df(spark, [700, 760, 730, 740]))
    row = df.groupBy("record_id").agg(*time_domain_exprs()).collect()[0]
    assert row["nni_50"] == 1 and row["nni_20"] == 2
    assert row["pnni_50"] == pytest.approx(25.0)
    assert row["pnni_20"] == pytest.approx(50.0)


def test_poincare_closed_form_vs_rotated(spark):
    rng = np.random.default_rng(42)
    nn = 800 + 50 * rng.standard_normal(400)
    df = with_diff(_rr_df(spark, nn.tolist()))
    row = df.groupBy("record_id").agg(*poincare_exprs()).collect()[0]
    d = np.diff(nn)
    sd1_expected = math.sqrt(0.5 * np.var(d, ddof=1))
    assert row["sd1"] == pytest.approx(sd1_expected, rel=1e-6)
    # rotated-scatter definition agrees asymptotically (SURVEY.md §5.4)
    x, y = nn[:-1], nn[1:]
    sd2_rot = np.std((x + y) / math.sqrt(2), ddof=1)
    assert row["sd2"] == pytest.approx(sd2_rot, rel=0.05)
    assert row["ratio_sd2_sd1"] == pytest.approx(row["sd2"] / row["sd1"], rel=1e-6)


def test_csi_cvi_identities(spark):
    rng = np.random.default_rng(7)
    nn = 900 + 40 * rng.standard_normal(200)
    df = with_diff(_rr_df(spark, nn.tolist()))
    p = df.groupBy("record_id").agg(*poincare_exprs()).collect()[0]
    c = df.groupBy("record_id").agg(*csi_cvi_exprs()).collect()[0]
    t, l = 4 * p["sd1"], 4 * p["sd2"]
    assert c["csi"] == pytest.approx(l / t, rel=1e-5)
    assert c["cvi"] == pytest.approx(math.log10(l * t), rel=1e-5)
    assert c["modified_csi"] == pytest.approx(l * l / t, rel=1e-5)


def test_triangular_index_known_answer(spark):
    # bins of width 7.8125: 800, 800.1 share a bin; 810, 820 alone → 4/2
    df = _rr_df(spark, [800, 800.1, 810, 820])
    row = triangular_index(df).collect()[0]
    assert row["triangular_index"] == pytest.approx(2.0)


def test_sliding_windows_fanout_and_within_window_diff(spark):
    """Two beats at 12:00:00 and 12:01:00 land in exactly the 4
    windows starting 11:15/11:30/11:45/12:00 (1 h width, 15 min
    stride), and the diff is computed inside each window."""
    from data_ingestor_and_features_creator_spark.features.hrv import (
        sliding_windows)
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, base, 800.0), (1, base + datetime.timedelta(minutes=1), 810.0)],
        schema=RR_INTERVALS)
    q15 = 900_000_000
    d = sliding_windows(df, width_us=4 * q15, stride_us=q15)
    out = (d.groupBy("record_id", "ws_us")
             .agg(*time_domain_exprs_by_name(["mean_nni", "rmssd"]))
             .collect())
    base_us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6
    expect_ws = {base_us - g * q15 for g in range(4)}
    assert {r["ws_us"] for r in out} == expect_ws
    for r in out:
        assert r["mean_nni"] == pytest.approx(805.0)
        assert r["rmssd"] == pytest.approx(10.0)  # diff within window


def _expr_strs(cols) -> list[str]:
    return [c._jc.toString() for c in cols]


# sha256 of each feature list's expression strings, newline-joined, as
# the eager implementation produced them before the time-domain
# expressions were made lazily: laziness must not change a single one.
_EXPR_DIGESTS = {
    "time_domain": "803acd5d64592fecec7116b95f6e18664b368908008f503240b440e1a5f419e5",
    "poincare": "ae905a34288966cf299290a2f9226d968bf27db68aa7745368d28e984b9fc363",
    "csi_cvi": "c381c154b708a03421c2296eecfe9797bd63d7f1c8bba82d84cd7afe5ade444e",
}


def test_feature_expressions_unchanged(spark):
    got = {name: hashlib.sha256("\n".join(_expr_strs(f())).encode()).hexdigest()
           for name, f in (("time_domain", time_domain_exprs),
                           ("poincare", poincare_exprs),
                           ("csi_cvi", csi_cvi_exprs))}
    assert got == _EXPR_DIGESTS


@pytest.mark.parametrize("names", [
    ["mean_nni", "sdnn", "rmssd", "nni_50"],   # q_hrv, q_media
    ["mean_nni", "sdnn", "rmssd", "pnni_50"],  # q_round5
    ["mean_nni", "rmssd"],
    ["std_hr", "mean_nni", "cvsd"],            # not in output order
], ids="+".join)
def test_time_domain_by_name_matches_full_list(spark, names):
    """Building only the named expressions gives exactly the strings of
    the full list filtered by alias, in ``time_domain_exprs`` order."""
    full = _expr_strs(time_domain_exprs())
    expect = [e for e in full if e.rsplit(" AS ", 1)[-1].strip("`") in names]
    assert len(expect) == len(names)
    assert _expr_strs(time_domain_exprs_by_name(names)) == expect


def test_time_domain_by_name_rejects_unknown(spark):
    with pytest.raises(KeyError):
        time_domain_exprs_by_name(["mean_nni", "no_such_feature"])


def test_freq_domain_kernel_detects_lf_modulation():
    # 0.1 Hz (LF band) sinusoidal modulation of RR → LF ≫ HF
    n = 600
    t_beat = np.cumsum(np.full(n, 0.8))
    rri = 800 + 50 * np.sin(2 * np.pi * 0.1 * t_beat)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "record_id": 1,
        "beat_ts": [base + pd.Timedelta(seconds=s) for s in t_beat],
        "rri": rri,
    })
    out = kernels.freq_domain_kernel(pdf).iloc[0]
    assert out["lf"] > 10 * out["hf"]
    assert out["total_power"] == pytest.approx(out["vlf"] + out["lf"] + out["hf"])
    assert 0 <= out["lfnu"] <= 100 and 0 <= out["hfnu"] <= 100
    assert out["lfnu"] + out["hfnu"] == pytest.approx(100.0)


def test_freq_domain_short_group_returns_nulls():
    pdf = pd.DataFrame({
        "record_id": [1] * 5,
        "beat_ts": pd.date_range("2024-01-01", periods=5, freq="s"),
        "rri": [800.0, 810, 790, 805, 800],
    })
    out = kernels.freq_domain_kernel(pdf).iloc[0]
    assert out["lf"] is None and out["n_beats"] == 5


def test_sampen_brute_force_equivalence():
    rng = np.random.default_rng(3)
    x = 800 + 30 * rng.standard_normal(80)
    got = kernels.sample_entropy(x, m=2)
    r = 0.2 * np.std(x)
    # independent O(n²) double loop
    def count(mm):
        tpl = [x[i:i + mm] for i in range(len(x) - mm + 1)]
        c = 0
        for i in range(len(tpl)):
            for j in range(len(tpl)):
                if i != j and np.max(np.abs(tpl[i] - tpl[j])) <= r:
                    c += 1
        return c
    expected = -math.log(count(3) / count(2))
    assert got == pytest.approx(expected, rel=1e-9)


def test_sampen_regularity_ordering():
    rng = np.random.default_rng(11)
    regular = 800 + 10 * np.sin(np.arange(200) * 0.3)
    noisy = 800 + 10 * rng.standard_normal(200)
    assert kernels.sample_entropy(regular) < kernels.sample_entropy(noisy)


def test_rpeak_detection_finds_planted_beats(spark):
    """The synthetic signal plants beats every 70+id%30 samples; the
    detector must find exactly that grid with RR = period/fs."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    ids = spark.createDataFrame([(3,), (17,), (42,)], "record_id long")
    out = (peaks.detect_rpeaks(peaks.synthetic_signal(ids))
           .orderBy("record_id", "peak_idx").collect())
    by_rec: dict[int, list] = {}
    for r in out:
        by_rec.setdefault(r["record_id"], []).append(r)
    assert set(by_rec) == {3, 17, 42}
    for rid, rows in by_rec.items():
        period = 70 + rid % 30
        expect_idx = list(range(0, peaks.N_SAMPLES, period))
        assert [r["peak_idx"] for r in rows] == expect_idx
        assert rows[0]["rr_ms"] is None
        for r in rows[1:]:
            assert r["rr_ms"] == pytest.approx(period * 1000.0 / peaks.FS_HZ)


def _kernel_beats(pdf) -> list[tuple]:
    from data_ingestor_and_features_creator_spark.operators import peaks

    return sorted((int(rid), int(i), float(ms))
                  for rid, g in pdf.groupby("record_id")
                  for _, i, ms in peaks.detect_rpeaks_kernel(g).itertuples(
                      index=False))


def test_rpeak_spark_path_matches_pandas_kernel_on_synthetic_signal(spark):
    """detect_rpeaks thresholds with Spark's avg/stddev_pop, the pandas
    kernel with numpy's mean/std; the two round differently, so the
    beats are compared, not assumed."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    ids = spark.range(40).withColumnRenamed("id", "record_id")
    sig = peaks.synthetic_signal(ids)
    got = sorted((r["record_id"], r["peak_idx"], r["peak_ms"]) for r in
                 peaks.detect_rpeaks(sig).collect())
    assert got == _kernel_beats(sig.toPandas())
    assert len(got) > 40 * 10


@pytest.mark.parametrize("pattern", ["ecg_*.edf", "holter_*.edf"])
def test_rpeak_spark_path_matches_pandas_kernel_on_edf(spark, pattern):
    from data_ingestor_and_features_creator_spark.operators import (media,
                                                                    peaks)
    from data_ingestor_and_features_creator_spark.plans import q_media

    if not os.path.isdir(q_media._MEDIA):
        pytest.skip("media fixtures not generated (tools/gen_derived.py "
                    "--media)")
    sig = q_media._assets(spark, pattern).mapInPandas(media.edf_ecg_samples(),
                            schema=media.EDF_SAMPLES_SCHEMA)
    got = sorted((r["record_id"], r["peak_idx"], r["peak_ms"]) for r in
                 peaks.detect_rpeaks(sig).collect())
    assert got == _kernel_beats(sig.toPandas())
    assert {b[0] for b in got} == set(range(6))


def test_rpeak_null_keyed_record_keeps_its_beats(spark):
    """A record whose key is null is still one group and still gets its
    beats (pinned from the grouped plan's output: the threshold join is
    null-safe). Record 23's signal (period 93) is relabelled null."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    ids = spark.createDataFrame([(23,), (3,)], "record_id long")
    sig = peaks.synthetic_signal(ids).withColumn(
        "record_id", F.when(F.col("record_id") != 23, F.col("record_id")))
    out = (peaks.detect_rpeaks(sig)
           .orderBy("record_id", "peak_idx").collect())
    null_rows = [r for r in out if r["record_id"] is None]
    assert [r["peak_idx"] for r in null_rows] == list(range(0, 1024, 93))
    assert [r["rr_ms"] for r in null_rows] == [None] + [726.5625] * 11
    assert [r["peak_idx"] for r in out if r["record_id"] == 3] == \
        list(range(0, 1024, 73))


def test_rpeak_null_key_keeps_its_own_threshold(spark):
    """The threshold join stands a null key in for the smallest long;
    a record with that real id must not lend the null-keyed record its
    threshold. The null record's 0.4 bump sits below its own threshold
    (~0.45) but above the other record's (~0.07)."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    low = -2**63
    a = np.zeros(200)
    a[[0, 60, 120, 180]] = 1.0
    a[90] = 0.4
    b = np.zeros(200)
    b[10] = 0.3
    rows = ([(None, k, float(v)) for k, v in enumerate(a)]
            + [(low, k, float(v)) for k, v in enumerate(b)])
    sig = spark.createDataFrame(rows, "record_id long, k long, amp double")
    out = peaks.detect_rpeaks(sig).collect()
    assert sorted(r["peak_idx"] for r in out if r["record_id"] is None) == \
        [0, 60, 120, 180]
    assert [r["peak_idx"] for r in out if r["record_id"] == low] == [10]


def test_rpeak_record_with_a_null_sample_emits_no_beats(spark):
    """A null amplitude makes the record's threshold NaN, as numpy's
    mean over pandas' NaN does in detect_rpeaks_kernel, so that record
    emits no beats while its neighbour keeps them."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    amp = np.zeros(200)
    amp[[0, 60, 120, 180]] = 1.0
    rows = [(rid, k, None if (rid, k) == (1, 30) else float(v))
            for rid in (1, 2) for k, v in enumerate(amp)]
    sig = spark.createDataFrame(rows, "record_id long, k long, amp double")
    got = sorted((r["record_id"], r["peak_idx"])
                 for r in peaks.detect_rpeaks(sig).collect())
    assert got == [(2, 0), (2, 60), (2, 120), (2, 180)]
    assert len(peaks.detect_rpeaks_kernel(
        sig.toPandas().query("record_id == 1"))) == 0


def test_pan_tompkins_finds_planted_beat_count_with_tolerance(spark):
    """The PT chain must find exactly one beat per planted spike; peak
    positions may shift by the integration filter's group delay (≤ ~12
    samples) and RR intervals must stay within that jitter of the
    planted period."""
    from data_ingestor_and_features_creator_spark.operators import peaks

    ids = spark.createDataFrame([(3,), (17,), (42,)], "record_id long")
    out = (peaks.detect_rpeaks_pt(peaks.synthetic_signal(ids))
           .orderBy("record_id", "peak_idx").collect())
    by_rec: dict[int, list] = {}
    for r in out:
        by_rec.setdefault(r["record_id"], []).append(r)
    assert set(by_rec) == {3, 17, 42}
    for rid, rows in by_rec.items():
        period = 70 + rid % 30
        expect_n = 1 + (peaks.N_SAMPLES - 1) // period
        assert len(rows) == expect_n
        tol = 12
        for i, r in enumerate(rows):
            planted = min(range(0, peaks.N_SAMPLES, period),
                          key=lambda p: abs(p - r["peak_idx"]))
            assert abs(r["peak_idx"] - planted) <= tol
        for r in rows[1:]:
            assert abs(r["rr_ms"] - period * 1000.0 / peaks.FS_HZ) <= \
                2 * tol * 1000.0 / peaks.FS_HZ


def test_rpeak_kernel_refractory_suppresses_close_taller_candidate():
    """Two supra-threshold candidates inside one refractory window →
    one beat, the taller one."""
    from data_ingestor_and_features_creator_spark.operators.peaks import (
        REFRACTORY, detect_rpeaks_kernel)

    n = 400
    amp = np.zeros(n)
    amp[100] = 1.0
    amp[100 + REFRACTORY // 2] = 1.5   # taller, too close → replaces 100
    amp[300] = 1.0
    pdf = pd.DataFrame({"record_id": 7, "k": np.arange(n), "amp": amp})
    got = detect_rpeaks_kernel(pdf)
    assert list(got["peak_idx"]) == [100 + REFRACTORY // 2, 300]


def test_freq_domain_window_kernel_carries_key():
    import numpy as np
    import pandas as pd
    from data_ingestor_and_features_creator_spark.features import kernels
    # realistic RR series: 300 beats ~1000ms + 0.1Hz LF modulation
    n = 300
    rri = 1000.0 + 50.0 * np.sin(2 * np.pi * 0.1 * np.arange(n))
    pdf = pd.DataFrame({
        "beat_ts": pd.date_range("2024-01-01", periods=n, freq="s"),
        "rri": rri,
    })
    out = kernels.freq_domain_window_kernel((7, 123456), pdf).iloc[0]
    assert out["record_id"] == 7 and out["ws_us"] == 123456
    assert out["n_beats"] == n
    assert out["lf"] is not None and out["lf"] > out["hf"]  # 0.1 Hz is LF


def test_tinn_perfect_triangle_recovers_base_width():
    """A histogram that IS a triangle must fit itself exactly: counts
    rise 0→peak over bins 10..15 and fall back to 0 at bin 20, so the
    optimal (N, M) = (10, 20) and tinn = 10 bins × 7.8125 ms."""
    bins = np.arange(11, 20)  # interior bins with nonzero mass
    peak = 8.0
    counts = np.where(bins <= 15, (bins - 10) * peak / 5.0,
                      (20 - bins) * peak / 5.0)
    # pad explicit zero-mass edge bins so the grid spans 10..20
    bins = np.concatenate(([10], bins, [20]))
    counts = np.concatenate(([0.0], counts, [0.0]))
    assert kernels.tinn_fit(bins, counts) == pytest.approx(10 * 7.8125)


def test_tinn_penalizes_mass_outside_base():
    """Mass far outside the candidate base must widen the fit: with an
    outlier bin at 40 the narrow triangle pays its full squared count,
    so the optimizer prefers a base reaching it when that mass is
    large."""
    bins = np.array([10, 11, 12, 13, 14])
    counts = np.array([0.0, 5.0, 10.0, 5.0, 0.0])
    narrow = kernels.tinn_fit(bins, counts)
    assert narrow == pytest.approx(4 * 7.8125)
    bins2 = np.concatenate((bins, [40]))
    counts2 = np.concatenate((counts, [0.5]))  # small → ignored
    assert kernels.tinn_fit(bins2, counts2) == pytest.approx(4 * 7.8125)


def test_tinn_degenerate_histograms_return_none():
    assert kernels.tinn_fit(np.array([]), np.array([])) is None
    assert kernels.tinn_fit(np.array([3]), np.array([9.0])) is None  # 1 bin
    # mode at the grid edge → no interior triangle
    assert kernels.tinn_fit(np.array([0, 1]), np.array([5.0, 1.0])) is None


def test_dfa_alpha_white_vs_brownian_noise():
    """DFA physics: uncorrelated (white) noise scales with α ≈ 0.5;
    its running sum (Brownian walk) with α ≈ 1.5 — the two canonical
    anchors for a DFA implementation (Peng et al.)."""
    import numpy as np
    from data_ingestor_and_features_creator_spark.features.kernels import dfa_alpha
    rng = np.random.default_rng(7)
    white = rng.standard_normal(4096)
    a_white = dfa_alpha(white)
    a_brown = dfa_alpha(np.cumsum(white))
    assert 0.35 < a_white < 0.65, a_white
    assert 1.25 < a_brown < 1.75, a_brown
    assert dfa_alpha(np.ones(16)) is None          # too short
    assert dfa_alpha(np.zeros(4096)) is None       # zero variance


def test_lomb_band_isolation_on_planted_sinusoid():
    """A sinusoid at 0.1 Hz (LF band) sampled on JITTERED beat times
    must put its Lomb power in LF; at 0.3 Hz (HF band) in HF. No
    resampling step exists to blur the line between the bands."""
    import numpy as np
    from data_ingestor_and_features_creator_spark.features.kernels import (
        lomb_band_powers)
    rng = np.random.default_rng(11)
    t = np.cumsum(0.8 + 0.1 * rng.random(512))  # uneven ~0.85 s beats
    t = t - t[0]
    for f0, dominant in [(0.10, "lf"), (0.30, "hf")]:
        x = 50.0 * np.sin(2 * np.pi * f0 * t) + rng.standard_normal(512)
        lf, hf = lomb_band_powers(t, x)
        if dominant == "lf":
            assert lf > 10 * hf, (f0, lf, hf)
        else:
            assert hf > 10 * lf, (f0, lf, hf)


def test_dfa_and_lomb_spark_queries_run(spark, sf_dir):
    """The registered Arrow kernels execute per record through the
    round-10 bound-eval shape: most fixture records clear the compute
    guard, every live invariant boolean holds, and the planted-physics
    records ride the same distributed path."""
    from data_ingestor_and_features_creator_spark import plans
    plans.load_all()
    from data_ingestor_and_features_creator_spark.plans.registry import QUERIES
    dfa = QUERIES["hrv_dfa"](spark, sf_dir).collect()
    lomb = QUERIES["hrv_lomb_scargle"](spark, sf_dir).collect()
    assert {r["record_id"] for r in dfa} >= {-201, -202}
    assert {r["record_id"] for r in lomb} >= {-301, -302}
    assert all(r["physics_ok"] and r["ordering_ok"] for r in dfa)
    assert all(r["internal_ok"] and r["band_ok"] for r in lomb)
    real_dfa = [r for r in dfa if r["record_id"] >= 0]
    real_lomb = [r for r in lomb if r["record_id"] >= 0]
    assert real_dfa and real_lomb
    assert sum(r["computed"] for r in real_dfa) >= len(real_dfa) * 0.9
    assert sum(r["computed"] for r in real_lomb) >= len(real_lomb) * 0.9
