"""Property-based invariants (SURVEY.md §5 item 4, hypothesis):
semantics that must hold for ALL inputs, not just fixture rows.
Example counts are kept small — every example is a Spark round trip.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestor_and_features_creator_spark.features.hrv import (
    poincare_exprs, with_diff)
from data_ingestor_and_features_creator_spark.operators import (similarity,
                                                                textops)

SETTINGS = settings(max_examples=8, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])

texts = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=40).map(
        lambda s: " ".join(s.split()) or "a"),
    min_size=1, max_size=12)


@given(texts)
@SETTINGS
def test_exact_dedup_idempotent_and_subset(spark, ts):
    docs = spark.createDataFrame(list(enumerate(ts)), "doc_id long, text string")
    once = textops.exact_dedup_keys(docs)
    ids_once = {r["doc_id"] for r in once.select("doc_id").collect()}
    # subset of input
    assert ids_once <= set(range(len(ts)))
    # idempotent
    twice = textops.exact_dedup_keys(once.drop("text_sha"))
    assert {r["doc_id"] for r in twice.select("doc_id").collect()} == ids_once
    # survivor count == distinct normalized texts
    assert len(ids_once) == len({t.strip().lower() for t in ts})


@given(st.lists(st.floats(min_value=-1e4, max_value=1e4,
                          allow_nan=False), min_size=1, max_size=30))
@SETTINGS
def test_range_filter_subset_and_within_bounds(spark, vals):
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    out = [r["v"] for r in df.filter(F.col("v").between(300, 2000)).collect()]
    assert all(300 <= v <= 2000 for v in out)
    assert len(out) == sum(1 for v in vals if 300 <= v <= 2000)


@given(st.lists(st.integers(0, 100), max_size=20),
       st.lists(st.integers(0, 100), max_size=20))
@SETTINGS
def test_union_all_rowcount_additive(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs], "v long")
    b = spark.createDataFrame([(y,) for y in ys], "v long")
    assert a.unionByName(b).count() == len(xs) + len(ys)


@given(st.lists(st.floats(min_value=400, max_value=1200, allow_nan=False),
                min_size=8, max_size=40))
@SETTINGS
def test_poincare_sd1_equals_rotated_definition(spark, nn):
    import datetime
    base = datetime.datetime(2024, 1, 1)
    rows, t = [], 0.0
    for v in nn:
        rows.append((1, base + datetime.timedelta(milliseconds=t), float(v)))
        t += v
    df = with_diff(spark.createDataFrame(
        rows, "record_id long, beat_ts timestamp, rri double"))
    row = df.groupBy("record_id").agg(*poincare_exprs()).collect()[0]
    d = np.diff(np.array(nn))
    if d.std(ddof=1) == 0:
        return  # degenerate: constant series has sd1 = 0, ratio undefined
    sd1_rot = np.std((np.array(nn[1:]) - np.array(nn[:-1])) / math.sqrt(2),
                     ddof=1)
    assert row["sd1"] == pytest.approx(sd1_rot, rel=1e-5, abs=1e-6)


# width=32: the column is array<float>, so a nonzero double that rounds
# to 0.0 in float32 would make an all-zero vector
@given(st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False,
                          width=32),
                min_size=4, max_size=16).filter(lambda v: any(x != 0 for x in v)))
@SETTINGS
def test_cosine_self_similarity_is_one(spark, vec):
    df = spark.createDataFrame([(0, [float(x) for x in vec])],
                               "vec_id long, embedding array<float>")
    cos = similarity.dot("embedding", "embedding") / (
        similarity.l2_norm("embedding") * similarity.l2_norm("embedding"))
    got = df.select(cos.alias("c")).collect()[0]["c"]
    assert got == pytest.approx(1.0, abs=1e-6)


@given(st.lists(st.tuples(st.integers(0, 2**32 - 1),
                          st.integers(64, 600),
                          st.lists(st.tuples(st.integers(0, 599),
                                             st.sampled_from([1.0, 1.5, 2.0])),
                                   max_size=12)),
                min_size=1, max_size=3))
@SETTINGS
def test_rpeak_spark_path_matches_pandas_kernel(spark, records):
    """Uniform noise in [0, 0.1) with planted spikes (some inside one
    refractory window of each other): the threshold-first Spark plan
    and the pandas kernel emit the same beats, although Spark's
    avg/stddev_pop and numpy's mean/std round differently."""
    from data_ingestor_and_features_creator_spark.operators import peaks
    from tests.test_hrv_known_answers import _kernel_beats

    rows = []
    for rid, (seed, n, spikes) in enumerate(records):
        amp = np.random.default_rng(seed).uniform(0.0, 0.1, n)
        for pos, height in spikes:
            amp[pos % n] = height
        rows += [(rid, k, float(a)) for k, a in enumerate(amp)]
    sig = spark.createDataFrame(rows, "record_id long, k long, amp double")
    got = sorted((r["record_id"], r["peak_idx"], r["peak_ms"])
                 for r in peaks.detect_rpeaks(sig).collect())
    assert got == _kernel_beats(sig.toPandas())


@given(st.text(alphabet="abc ", min_size=3, max_size=60).map(
    lambda s: " ".join(s.split()) or "a b c"))
@SETTINGS
def test_minhash_identical_docs_identical_signatures(spark, text):
    docs = spark.createDataFrame([(0, text), (1, text)],
                                 "doc_id long, text string")
    sig = textops.minhash_signature(docs).collect()
    assert len(sig) == 2
    s0 = [sig[0][f"sig_{i}"] for i in range(16)]
    s1 = [sig[1][f"sig_{i}"] for i in range(16)]
    assert s0 == s1


@given(st.lists(st.one_of(st.none(),
                          st.floats(min_value=-100, max_value=100,
                                    allow_nan=False)),
                min_size=1, max_size=12))
@SETTINGS
def test_interpolation_methods_fill_all_gaps_within_hull(spark, vals):
    """Every method returns non-null everywhere (when any observation
    exists), agrees with the input on observed points, and stays inside
    [min, max] of the observations."""
    from data_ingestor_and_features_creator_spark.operators.interpolate import (
        interpolate_nan_values)

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "idx long, v double")
    obs = [v for v in vals if v is not None]
    for method in ("linear", "nearest", "locf"):
        out = interpolate_nan_values(
            df, "v", order_by=["idx"], partition_by=[F.lit(1)],
            out_col="o", method=method).orderBy("idx").collect()
        if not obs:
            assert all(r["o"] is None for r in out)
            continue
        for r in out:
            assert r["o"] is not None
            assert min(obs) - 1e-9 <= r["o"] <= max(obs) + 1e-9
            if vals[r["idx"]] is not None:
                assert r["o"] == vals[r["idx"]]


def test_interpolation_method_semantics_tiny_series(spark):
    """[10, null, null, 40]: linear blends 20/30, nearest copies the
    closer end (prev wins the tie), locf carries 10 forward."""
    from data_ingestor_and_features_creator_spark.operators.interpolate import (
        interpolate_nan_values)

    df = spark.createDataFrame(
        [(0, 10.0), (1, None), (2, None), (3, 40.0)], "idx long, v double")
    got = {}
    for method in ("linear", "nearest", "locf"):
        rows = interpolate_nan_values(
            df, "v", order_by=["idx"], partition_by=[F.lit(1)],
            out_col="o", method=method).orderBy("idx").collect()
        got[method] = [r["o"] for r in rows]
    assert got["linear"] == pytest.approx([10.0, 20.0, 30.0, 40.0])
    assert got["nearest"] == pytest.approx([10.0, 10.0, 40.0, 40.0])
    assert got["locf"] == pytest.approx([10.0, 10.0, 10.0, 40.0])


def test_percentile_approx_within_tolerance(spark, sf_dir):
    """GK median must land within 1% relative error of exact on the
    fixture distribution (accuracy=1000) — the POINT accuracy the
    registered bound eval's rank window is looser than — and the
    registered op's within-bound booleans must all be true."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_aggregates import (
        agg_percentile_approx)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    both = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact")).collect()
    assert both
    for r in both:
        assert r["p50_approx"] == pytest.approx(r["p50_exact"], rel=0.01)
    for r in agg_percentile_approx(spark, sf_dir).collect():
        assert r["approx_within_bound"], r
        assert r["rank_lo"] <= r["p50_disc"] <= r["rank_hi"]


@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
                min_size=1, max_size=90))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_overlap_reconstructs_document(spark, words):
    """Chunking invariants for any token count: (1) dropping each
    chunk's first `overlap` tokens (except chunk 0) and concatenating
    reconstructs the document exactly; (2) every chunk except the last
    has exactly CHUNK tokens or the doc is shorter than CHUNK."""
    from data_ingestor_and_features_creator_spark.plans.q_extras import (
        _CHUNK, _STRIDE, text_chunk_overlap)
    from data_ingestor_and_features_creator_spark.plans import q_extras
    import data_ingestor_and_features_creator_spark.catalog as catalog

    text = " ".join(words)
    doc = spark.createDataFrame([(1, text)], "doc_id long, text string")
    orig_load = q_extras.load_table
    q_extras.load_table = lambda s, d, n: doc
    try:
        rows = (text_chunk_overlap(spark, "ignored")
                .orderBy("chunk_idx").collect())
    finally:
        q_extras.load_table = orig_load
    overlap = _CHUNK - _STRIDE
    rebuilt: list[str] = []
    for r in rows:
        toks = r["chunk_text"].split(" ")
        assert len(toks) == r["n_tok"]
        rebuilt.extend(toks if r["chunk_idx"] == 0 else toks[overlap:])
    assert rebuilt == words
    for r in rows[:-1]:
        assert r["n_tok"] == _CHUNK or len(words) < _CHUNK


def test_sessionize_matches_native_session_window(spark, sf_dir):
    """The manual lag→flag→cumsum sessionization must agree with
    Spark's native session_window(ts, gap) on every (user, session
    start, event count) — two independent implementations of the same
    semantics, so a mismatch means one of them mis-handles a boundary
    (the gap comparison is strict > in ours; session_window closes at
    gap >= on merge — equal-gap events land in the same session under
    both)."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_extras import (
        sessionize_timeout)

    manual = {(r["user_id"], r["start_us"]): r["n_events"]
              for r in sessionize_timeout(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    native = (ev.groupBy("user_id",
                         F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count("*").alias("n_events"),
                     F.min(F.unix_micros("ts")).alias("start_us")))
    native_m = {(r["user_id"], r["start_us"]): r["n_events"]
                for r in native.collect()}
    assert manual == native_m


def test_zorder_address_is_bijective(spark):
    """The bit-interleave must be a bijection on the dims it packs:
    4096 distinct (u, v) pairs on a 64x64 grid map to 4096 distinct
    Z-addresses covering exactly 0..4095."""
    from pyspark.sql import functions as SF
    from data_ingestor_and_features_creator_spark.plans.q_round3 import (
        _zorder_sql)
    grid = (spark.range(64 * 64)
                 .select((SF.col("id") % 64).alias("u"),
                         (SF.col("id") / 64).cast("long").alias("v")))
    z = grid.select(SF.expr(_zorder_sql("u", "v", 6, "spark")).alias("zkey"))
    row = z.agg(SF.countDistinct("zkey").alias("d"),
                SF.min("zkey").alias("lo"), SF.max("zkey").alias("hi")
                ).collect()[0]
    assert (row["d"], row["lo"], row["hi"]) == (4096, 0, 4095)


def test_bfs_levels_are_valid(spark, sf_dir):
    """Levels live in [0, 3]; level 0 is exactly the seed set; each
    node appears once (first reach wins)."""
    from pyspark.sql import functions as SF
    from data_ingestor_and_features_creator_spark import plans
    plans.load_all()
    from data_ingestor_and_features_creator_spark.catalog import load_table
    out = plans.QUERIES["graph_bfs_levels"](spark, sf_dir)
    rows = out.collect()
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes))
    assert all(0 <= r["level"] <= 3 for r in rows)
    seeds = {r["c_custkey"] for r in
             load_table(spark, sf_dir, "customer")
             .filter(SF.col("c_nationkey") == 0).collect()}
    assert {r["node"] for r in rows if r["level"] == 0} == seeds


def test_temperature_mixing_keeps_head_and_upweights_tail(spark, sf_dir):
    """The largest source's rate is exactly 1e6 PPM (kept whole); every
    source's realized keep fraction tracks its sqrt-share rate; smaller
    sources keep a LARGER fraction than their share ratio (the point of
    temperature sampling)."""
    from data_ingestor_and_features_creator_spark import plans
    plans.load_all()
    rows = plans.QUERIES["data_mix_temperature"](spark, sf_dir).collect()
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    assert by_n[-1]["rate_ppm"] == 1_000_000
    assert by_n[-1]["n_sampled"] == by_n[-1]["n_docs"]
    for r in rows:
        frac = r["n_sampled"] / r["n_docs"]
        # realized fraction within a loose band of the target rate
        # (hash gate over small per-source counts is noisy)
        assert abs(frac - r["rate_ppm"] / 1e6) < 0.25, r
    small, big = by_n[0], by_n[-1]
    assert small["rate_ppm"] / 1e6 >= (small["n_docs"] / big["n_docs"]) ** 0.5 - 1e-9


def test_epoch_shuffle_orders_differ_across_epochs(spark, sf_dir):
    """The epoch salt must actually change the visit order: identical
    per-epoch position vectors would mean the salt cancelled (the exact
    defect of a multiplier divisible by the modulus)."""
    from data_ingestor_and_features_creator_spark import plans
    plans.load_all()
    rows = plans.QUERIES["data_epoch_shuffle"](spark, sf_dir).collect()
    pos = {}
    for r in rows:
        pos.setdefault(r["epoch"], {})[r["doc_id"]] = r["position"]
    assert set(pos) == {0, 1, 2}
    # every epoch is a permutation of the same doc set…
    assert all(set(p) == set(pos[0]) for p in pos.values())
    assert all(sorted(p.values()) == list(range(1, len(p) + 1))
               for p in pos.values())
    # …and no two epochs visit in the same order
    assert pos[0] != pos[1] and pos[1] != pos[2] and pos[0] != pos[2]


def test_sliding_median_wide_frame_takes_approx_path(spark, sf_dir):
    """Frames wider than MEDIAN_EXACT_MAX_FRAME must switch to
    percentile_approx (plan check) and still track the exact median
    closely on real data (value check)."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans import q_window

    ev = load_table(spark, sf_dir, "events")
    half = (q_window.MEDIAN_EXACT_MAX_FRAME + 1) // 2 + 1
    wide = q_window.sliding_median(ev, half)
    assert "percentile_approx" in wide._jdf.queryExecution().analyzed().toString()
    narrow = q_window.sliding_median(ev, 50)
    assert "percentile_approx" not in narrow._jdf.queryExecution().analyzed().toString()
    got = {r["event_id"]: r["med101"]
           for r in wide.filter(F.col("user_id") == 1).collect()}
    # approx accuracy=10000 on ~500-row frames is exact in practice;
    # spot-check against a driver-side numpy median for one user
    import numpy as np
    pdf = (ev.filter(F.col("user_id") == 1)
             .orderBy("ts", "event_id").toPandas())
    vals = pdf["value"].to_numpy()
    for i in (0, len(vals) // 2, len(vals) - 1):
        lo, hi = max(0, i - half), min(len(vals), i + half + 1)
        want = float(np.median(vals[lo:hi]))
        assert abs(got[pdf["event_id"].iloc[i]] - want) <= max(
            0.02 * abs(want), 1e-6)


def test_star_cc_uses_no_exceptall_probe(spark, monkeypatch, cc_regime):
    """The fixpoint probe must stay count+anti-join shaped: exceptAll
    reshuffles the full edge set twice per round at 100 TB."""
    from pyspark.sql import DataFrame
    from data_ingestor_and_features_creator_spark.operators import graph

    def _boom(self, other):
        raise AssertionError("exceptAll used in CC convergence probe")

    monkeypatch.setattr(DataFrame, "exceptAll", _boom)
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    got = {r["n"]: r["cluster_id"]
           for r in graph.connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_cusum_closed_form_equals_recursion(spark, sf_dir):
    """cumsum-minus-running-min must equal the textbook recursion
    C+_t = max(0, C+_{t-1} + (x_t - k)) computed driver-side."""
    from data_ingestor_and_features_creator_spark.plans import q_round4
    rows = (q_round4.win_cusum_drift(spark, sf_dir)
            .filter(F.col("user_id") == 1).collect())
    got = {r["event_id"]: r["cusum_pos"] for r in rows}
    from data_ingestor_and_features_creator_spark.catalog import load_table
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id") == 1)
          .orderBy("ts", "event_id").collect())
    c = 0.0
    for r in ev:
        c = max(0.0, c + (r["value"] - q_round4._CUSUM_K))
        assert abs(got[r["event_id"]] - c) < 1e-6, r["event_id"]


def test_chi2_matches_driver_side_computation(spark, sf_dir):
    """Spark chi2 must match a numpy contingency-table computation."""
    import numpy as np
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans import q_round4
    got = q_round4.agg_chi2_independence(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.datediff(F.col("ts"), F.lit("1970-01-01")) % 7).alias("dow")
    ).collect()
    from collections import Counter
    obs = Counter((r["event_type"], r["dow"]) for r in ev)
    types = sorted({t for t, _ in obs}); dows = sorted({d for _, d in obs})
    O = np.array([[obs.get((t, d), 0) for d in dows] for t in types],
                 dtype=float)
    E = O.sum(1, keepdims=True) * O.sum(0, keepdims=True) / O.sum()
    mask = O > 0  # spark aggregates only observed cells
    chi2 = ((O - E) ** 2 / E)[mask].sum()
    assert got["n_cells"] == int(mask.sum())
    assert abs(got["chi2"] - chi2) < 1e-4


def _events_pairs(spark, sf_dir):
    from data_ingestor_and_features_creator_spark.catalog import load_table
    rows = (load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "view"))
            .select((F.col("user_id") % 8).alias("cohort"),
                    "event_type", "value").collect())
    by = {}
    for r in rows:
        by.setdefault(r["cohort"], ([], []))[
            0 if r["event_type"] == "purchase" else 1].append(r["value"])
    return by


def test_welch_t_matches_numpy(spark, sf_dir):
    """The decimal-sum construction must agree with a straight numpy
    Welch t (ddof=1) to the emitted 6-dp round."""
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_welch_ttest)
    got = {r["cohort"]: r["t_stat"]
           for r in agg_welch_ttest(spark, sf_dir).collect()}
    for cohort, (a, b) in _events_pairs(spark, sf_dir).items():
        if len(a) < 2 or len(b) < 2:
            continue
        x, y = np.array(a), np.array(b)
        t = (x.mean() - y.mean()) / math.sqrt(
            x.var(ddof=1) / len(x) + y.var(ddof=1) / len(y))
        assert got[cohort] == pytest.approx(t, abs=2e-6), cohort


def test_mannwhitney_u_matches_naive_midranks(spark, sf_dir):
    """The tie-group cumsum construction must equal the textbook
    midrank computation done row-at-a-time in numpy."""
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_mannwhitney_u)
    got = {r["cohort"]: (r["n1"], r["n2"], r["u1"])
          for r in agg_mannwhitney_u(spark, sf_dir).collect()}
    for cohort, (a, b) in _events_pairs(spark, sf_dir).items():
        allv = np.concatenate([a, b])
        order = np.argsort(allv, kind="stable")
        ranks = np.empty(len(allv))
        i = 0
        sv = allv[order]
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0  # midrank, 1-based
            i = j
        r1 = ranks[:len(a)].sum()
        u1 = r1 - len(a) * (len(a) + 1) / 2.0
        assert got[cohort][0] == len(a) and got[cohort][1] == len(b)
        assert got[cohort][2] == pytest.approx(u1, abs=1e-6), cohort


def test_ks_2sample_matches_naive(spark, sf_dir):
    """D must equal the brute-force max |F1-F2| over observed values."""
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_ks_2sample)
    got = {r["cohort"]: r["ks_d"]
           for r in agg_ks_2sample(spark, sf_dir).collect()}
    for cohort, (a, b) in _events_pairs(spark, sf_dir).items():
        xs = np.unique(np.concatenate([a, b]))
        f1 = np.searchsorted(np.sort(a), xs, side="right") / len(a)
        f2 = np.searchsorted(np.sort(b), xs, side="right") / len(b)
        assert got[cohort] == pytest.approx(np.abs(f1 - f2).max(),
                                            abs=1e-6), cohort


def test_pareto_head_boundary_is_tight(spark, sf_dir):
    """docs_to_half must be the MINIMAL head: top-k chars >= half the
    total, top-(k-1) strictly under half."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_pareto_head)
    docs = (load_table(spark, sf_dir, "documents")
            .select("source", "n_chars", "doc_id").collect())
    by = {}
    for r in docs:
        by.setdefault(r["source"], []).append((r["n_chars"], r["doc_id"]))
    for row in agg_pareto_head(spark, sf_dir).collect():
        sizes = [c for c, _ in sorted(by[row["source"]],
                                      key=lambda t: (-t[0], t[1]))]
        total = sum(sizes)
        k = row["docs_to_half"]
        assert 2 * sum(sizes[:k]) >= total
        assert 2 * sum(sizes[:k - 1]) < total


def test_benford_digit_partition(spark, sf_dir):
    """Digits partition the orders; PPM shares sum to <= 1e6 (floor
    division) and within 9 ulps of it."""
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_benford_digits)
    rows = agg_benford_digits(spark, sf_dir).collect()
    assert all(1 <= r["digit"] <= 9 for r in rows)
    ppm = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - 9 <= ppm <= 1_000_000


def test_holt_linear_matches_driver_recursion(spark, sf_dir):
    """The Arrow kernel must reproduce the textbook Holt recursion
    computed driver-side for a sample of users."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_round4b import (
        _HOLT_ALPHA, _HOLT_BETA, win_holt_linear)
    got = {(r["user_id"], r["event_id"]): (r["level"], r["trend"])
           for r in win_holt_linear(spark, sf_dir)
           .filter(F.col("user_id") < 5).collect()}
    raw = (load_table(spark, sf_dir, "events")
           .filter((F.col("user_id") < 5) & F.col("value").isNotNull()
                   & ~F.isnan("value"))
           .select("user_id", "event_id", "ts", "value").collect())
    by = {}
    for r in sorted(raw, key=lambda r: (r["ts"], r["event_id"])):
        by.setdefault(r["user_id"], []).append((r["event_id"], r["value"]))
    checked = 0
    for uid, seq in by.items():
        lvl, trd = seq[0][1], 0.0
        assert got[(uid, seq[0][0])] == (lvl, 0.0)
        for eid, x in seq[1:]:
            prev = lvl + trd
            new_lvl = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * prev
            trd = _HOLT_BETA * (new_lvl - lvl) + (1 - _HOLT_BETA) * trd
            lvl = new_lvl
            assert got[(uid, eid)] == (lvl, trd)
            checked += 1
    assert checked > 0


def test_pca_top_component_matches_eigh(spark, sf_dir):
    """Power iteration must align with numpy's exact top eigenvector
    (|cos| > 0.999) and reproduce its eigenvalue."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        pca_loadings, vec_pca_power_iteration)
    rows = pca_loadings(spark, sf_dir).collect()
    v = np.array([r["loading"] for r in
                  sorted(rows, key=lambda r: r["component"])])
    lam = rows[0]["eigenvalue"]
    x = np.stack([np.array(r["embedding"], dtype="float64") for r in
                  load_table(spark, sf_dir, "embeddings")
                  .select("embedding").collect()])
    cov = np.cov(x, rowvar=False, ddof=1)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    assert abs(float(v @ top) / np.linalg.norm(v)) > 0.999
    assert lam == pytest.approx(w[-1], rel=1e-4)
    ev = vec_pca_power_iteration(spark, sf_dir).collect()
    assert len(ev) == 1
    r = ev[0]
    assert (r["unit_norm"] and r["rq_raises_rayleigh"]
            and r["lambda_le_trace"] and r["explained_ratio_in_01"])
    assert r["trace"] == pytest.approx(float(np.trace(cov)), rel=1e-4)


def test_family_histogram_accounts_for_every_doc(spark, sf_dir):
    """Σ family_size·n_families must equal the corpus row count —
    the histogram partitions the corpus."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_round4b import (
        dedup_family_size_histogram)
    rows = dedup_family_size_histogram(spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in rows)
    assert total == load_table(spark, sf_dir, "documents").count()


def test_scorecard_internal_consistency(spark, sf_dir):
    """The fixture's n_chars metadata must match length(text) (drift
    count 0), and totals must be coherent."""
    from data_ingestor_and_features_creator_spark.plans.q_labels_training import (
        data_quality_scorecard)
    r = data_quality_scorecard(spark, sf_dir).first()
    assert r["n_len_mismatch"] == 0
    assert r["min_chars"] <= r["max_chars"]
    assert r["total_chars"] >= r["n_docs"] * r["min_chars"]


def test_cooccurrence_lift_matches_driver_computation(spark, sf_dir):
    """Lift PPM recomputed driver-side from raw distinct sets."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_cooccurrence_lift)
    rows = (load_table(spark, sf_dir, "events")
            .select("user_id", "event_type").distinct().collect())
    users_by_type = {}
    all_users = set()
    for r in rows:
        users_by_type.setdefault(r["event_type"], set()).add(r["user_id"])
        all_users.add(r["user_id"])
    n = len(all_users)
    for r in agg_cooccurrence_lift(spark, sf_dir).collect():
        a, b = users_by_type[r["type_a"]], users_by_type[r["type_b"]]
        n_ab = len(a & b)
        assert r["n_ab"] == n_ab
        assert r["lift_ppm"] == n_ab * n * 1_000_000 // (len(a) * len(b))


def test_kll_merged_quantiles_within_rank_error(spark, sf_dir):
    """Weekly-merged KLL p50/p90 must sit within ±3% RANK error of the
    exact weekly percentiles (k=200 bounds ~1.65%; 3% gives slack),
    and n_values must be exact (counts are not sampled)."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_round4b import (
        kll_weekly_estimates, rollup_kll_quantile_merge)
    f = (load_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    got = {r["week"]: r for r in kll_weekly_estimates(f).collect()}
    raw = (f.select(F.date_trunc("week", "ts").alias("week"), "value")
            .collect())
    by = {}
    for r in raw:
        by.setdefault(r["week"], []).append(r["value"])
    for week, vals in by.items():
        xs = np.sort(np.array(vals))
        row = got[week]
        assert row["sk_n"] == len(xs)
        for q, est in ((0.5, row["p50_est"]), (0.9, row["p90_est"])):
            rank = np.searchsorted(xs, est, side="right") / len(xs)
            assert abs(rank - q) <= 0.03, (week, q, est, rank)
    for r in rollup_kll_quantile_merge(spark, sf_dir).collect():
        assert (r["p50_within_bound"] and r["p90_within_bound"]
                and r["sketch_n_exact"]), r


def test_theta_setops_identities(spark, sf_dir):
    """Theta estimates must satisfy the set identities exactly in the
    sub-sampling regime: both + only_purchase == purchase."""
    from data_ingestor_and_features_creator_spark.plans.q_round4b import (
        agg_theta_sketch_setops)
    for r in agg_theta_sketch_setops(spark, sf_dir).collect():
        assert r["n_both"] + r["n_only_purchase"] == r["n_purchase"]
        assert r["n_both"] <= min(r["n_purchase"], r["n_click"])


def test_ansi_mode_strict_and_try_escape(spark):
    """The session runs ANSI mode (Spark 4 default, kept ON — silent
    NULL-on-error corrupts pipelines): a bad cast must RAISE, and the
    try_* family is the explicit, visible escape hatch."""
    with pytest.raises(Exception):
        spark.sql("SELECT CAST('abc' AS INT) AS x").collect()
    row = spark.sql(
        "SELECT TRY_CAST('abc' AS INT) AS x, try_divide(1, 0) AS y"
    ).first()
    assert row["x"] is None and row["y"] is None


def test_equiheight_histogram_invariants(spark, sf_dir):
    """histogram_numeric invariants that ARE exact: weights sum to the
    group row count, bins are centroid-ordered, centroids lie within
    the group's [min, max]."""
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_cohort_stats import (
        agg_histogram_equiheight)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    stats = {r["event_type"]: r for r in
             ev.groupBy("event_type")
               .agg(F.count("*").alias("n"), F.min("value").alias("lo"),
                    F.max("value").alias("hi")).collect()}
    # raw-bin invariants, checked against the live aggregate directly
    raw = (ev.groupBy("event_type")
             .agg(F.expr("histogram_numeric(value, 10)").alias("h"))
             .collect())
    for r in raw:
        et, bins = r["event_type"], r["h"]
        assert sum(b["y"] for b in bins) == pytest.approx(stats[et]["n"])
        cs = [b["x"] for b in bins]
        assert cs == sorted(cs)
        assert stats[et]["lo"] <= cs[0] and cs[-1] <= stats[et]["hi"]
    # registered invariant eval must agree and flag nothing
    for r in agg_histogram_equiheight(spark, sf_dir).collect():
        assert r["bins_ascending"] and r["centroids_in_range"], r
        assert r["total_weight"] == r["n"]
        assert r["n_bins"] == min(10, r["n_distinct"])


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False), min_size=0, max_size=50))
@SETTINGS
def test_dec12_sum_matches_decimal_quantize(spark, xs):
    """The integer-arithmetic dec12_sum_py must equal the literal
    Decimal.quantize(HALF_EVEN) construction for any doubles,
    including exact 0.5e-12 ties."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from data_ingestor_and_features_creator_spark.functions.exact import (
        dec12_sum_py)
    xs = xs + [0.5e-12, -0.5e-12, 1.5e-12]
    q = Decimal("1e-12")
    ref = float(sum((Decimal(x).quantize(q, rounding=ROUND_HALF_EVEN)
                     for x in xs), Decimal(0)))
    assert dec12_sum_py(xs) == ref
