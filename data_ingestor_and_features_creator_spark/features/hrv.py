"""HRV feature expressions (SURVEY.md §2.9) — the reference's product,
re-expressed as closed-form Spark aggregate expressions.

Semantics follow the Aura org's public ``hrvanalysis`` API [PK:high]:

- time domain (``get_time_domain_features``): mean_nni, sdnn (ddof=1),
  sdsd (ddof=0 of successive diffs — np.std default in the public
  package; only sdnn is ddof=1), rmssd = sqrt(mean(d²)),
  median_nni, range_nni, cvsd = rmssd/mean_nni, cvnni = sdnn/mean_nni,
  nni_50/pnni_50 (pnni divides by len(nn)), nni_20/pnni_20,
  hr = 60000/nn → mean/max/min/std_hr (ddof=0);
- Poincaré (``get_poincare_plot_features``): sd1 = sqrt(0.5·var₁(d)),
  sd2 = sqrt(2·var₁(nn) − 0.5·var₁(d)), ratio = sd2/sd1;
- CSI/CVI (``get_csi_cvi_features``): T = 4·sd1, L = 4·sd2,
  csi = L/T, cvi = log10(L·T), Modified_csi = L²/T;
- geometrical: triangular_index = n / max histogram bin count at the
  standard 7.8125 ms bin width (128 Hz sampling heritage). ``tinn`` is
  intentionally omitted: it needs the triangular-fit minimization the
  public package does not stably define.

Everything here is ONE groupBy pass over base + lag-diff columns (the
win_lag_diff primitive): partial aggregation map-side, no UDF, no
collect. The ``d``-moments use count(d) = n−1 denominators; the
``nn``-moments use n — matching numpy ddof semantics exactly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.exact import dsum, r6, safe_div, safe_sqrt


def with_diff(rr: DataFrame, record_col: str = "record_id",
              ts_col: str = "beat_ts", rri_col: str = "rri",
              tiebreak_col: str | None = None) -> DataFrame:
    """Attach the successive-difference column ``d`` per record.

    ``tiebreak_col`` (a unique id) pins a total order when ``ts_col``
    can tie — registry house rule for hash-stable oracles."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = W.partitionBy(record_col).orderBy(*order)
    return rr.withColumn("d", F.col(rri_col) - F.lag(rri_col).over(w))


class _Lazy(dict):
    """``name -> Column`` made on first lookup from ``recipes`` (name ->
    zero-argument function), then reused. Every Column costs Py4J round
    trips, so a caller that reads a few names pays only for those."""

    def __init__(self, recipes: dict[str, Callable[[], Column]]):
        super().__init__()
        self._recipes = recipes

    def __missing__(self, name: str) -> Column:
        col = self[name] = self._recipes[name]()
        return col


def _stats(rri: Column, d: Column) -> _Lazy:
    """Shared exact-sum building blocks over one group.

    All denominators go through ``safe_div``: a single-beat group has
    n−1 = 0 and count(d) = 0, and ANSI mode turns that into a job-fatal
    DIVIDE_BY_ZERO (found by hypothesis); such groups get NULL moments.
    """
    s = _Lazy({
        "n": lambda: F.count(rri).cast("double"),
        "nd": lambda: F.count(d).cast("double"),
        "sum_rri": lambda: dsum(rri),
        "sum_rri2": lambda: dsum(rri * rri),
        "sum_d": lambda: dsum(d),
        "sum_d2": lambda: dsum(d * d),
        "hr": lambda: F.lit(60000.0) / rri,
        "sum_hr": lambda: dsum(s["hr"]),
        "sum_hr2": lambda: dsum(s["hr"] * s["hr"]),
        "mean_nni": lambda: safe_div(s["sum_rri"], s["n"]),
        "var_nni": lambda: safe_div(
            s["sum_rri2"] - safe_div(s["sum_rri"] * s["sum_rri"], s["n"]),
            s["n"] - 1),
        "mean_d2": lambda: safe_div(s["sum_d2"], s["nd"]),
        "var_d": lambda: safe_div(
            s["sum_d2"] - safe_div(s["sum_d"] * s["sum_d"], s["nd"]),
            s["nd"] - 1),
        "var_d_pop": lambda: safe_div(
            s["sum_d2"] - safe_div(s["sum_d"] * s["sum_d"], s["nd"]),
            s["nd"]),
        "mean_hr": lambda: safe_div(s["sum_hr"], s["n"]),
        "var_hr_pop": lambda: safe_div(
            s["sum_hr2"] - safe_div(s["sum_hr"] * s["sum_hr"], s["n"]),
            s["n"]),
        # time-domain intermediates shared by two features each
        "sdnn": lambda: safe_sqrt(s["var_nni"]),
        "rmssd": lambda: F.sqrt(s["mean_d2"]),
        "nni_50": lambda: F.sum(F.when(F.abs(d) > 50, 1).otherwise(0)),
        "nni_20": lambda: F.sum(F.when(F.abs(d) > 20, 1).otherwise(0)),
    })
    return s


def _time_domain(rri_col: str, d_col: str) -> dict[str, Callable[[], Column]]:
    """Zero-argument Column maker per time-domain feature, in output
    order."""
    rri, d = F.col(rri_col), F.col(d_col)
    s = _stats(rri, d)
    return {
        "mean_nni": lambda: r6(s["mean_nni"]),
        "sdnn": lambda: r6(s["sdnn"]),
        "sdsd": lambda: r6(safe_sqrt(s["var_d_pop"])),
        "rmssd": lambda: r6(s["rmssd"]),
        "median_nni": lambda: r6(F.expr(f"percentile({rri_col}, 0.5)")),
        "range_nni": lambda: F.max(rri) - F.min(rri),
        "cvsd": lambda: r6(safe_div(s["rmssd"], s["mean_nni"])),
        "cvnni": lambda: r6(safe_div(s["sdnn"], s["mean_nni"])),
        "nni_50": lambda: s["nni_50"],
        "pnni_50": lambda: r6(safe_div(F.lit(100.0) * s["nni_50"], s["n"])),
        "nni_20": lambda: s["nni_20"],
        "pnni_20": lambda: r6(safe_div(F.lit(100.0) * s["nni_20"], s["n"])),
        "mean_hr": lambda: r6(s["mean_hr"]),
        "max_hr": lambda: r6(F.lit(60000.0) / F.min(rri)),
        "min_hr": lambda: r6(F.lit(60000.0) / F.max(rri)),
        "std_hr": lambda: r6(safe_sqrt(s["var_hr_pop"])),
    }


def time_domain_exprs(rri_col: str = "rri", d_col: str = "d") -> list[Column]:
    return [make().alias(name)
            for name, make in _time_domain(rri_col, d_col).items()]


def time_domain_exprs_by_name(names: list[str], rri_col: str = "rri",
                              d_col: str = "d") -> list[Column]:
    """Named subset of the time-domain feature expressions, aliased to
    their names and in ``time_domain_exprs`` order (not ``names``
    order). Only the requested expressions are built."""
    makers = _time_domain(rri_col, d_col)
    if not set(names) <= makers.keys():
        raise KeyError(f"unknown feature name in {names!r}")
    return [make().alias(name) for name, make in makers.items()
            if name in names]


def poincare_exprs(rri_col: str = "rri", d_col: str = "d") -> list[Column]:
    rri, d = F.col(rri_col), F.col(d_col)
    s = _stats(rri, d)
    sd1 = safe_sqrt(F.lit(0.5) * s["var_d"])
    sd2 = safe_sqrt(F.lit(2.0) * s["var_nni"] - F.lit(0.5) * s["var_d"])
    return [
        r6(sd1).alias("sd1"),
        r6(sd2).alias("sd2"),
        r6(safe_div(sd2, sd1)).alias("ratio_sd2_sd1"),
    ]


def csi_cvi_exprs(rri_col: str = "rri", d_col: str = "d") -> list[Column]:
    rri, d = F.col(rri_col), F.col(d_col)
    s = _stats(rri, d)
    sd1 = safe_sqrt(F.lit(0.5) * s["var_d"])
    sd2 = safe_sqrt(F.lit(2.0) * s["var_nni"] - F.lit(0.5) * s["var_d"])
    t = 4 * sd1
    l = 4 * sd2
    # log10(0) is -inf, not an ANSI fault, but NULL is the consistent
    # degenerate-group answer across the feature set
    return [
        r6(safe_div(l, t)).alias("csi"),
        r6(F.when(l * t > 0, F.log10(l * t))).alias("cvi"),
        r6(safe_div(l * l, t)).alias("modified_csi"),
    ]


def sliding_windows(rr: DataFrame, width_us: int, stride_us: int,
                    record_col: str = "record_id",
                    ts_col: str = "beat_ts",
                    rri_col: str = "rri",
                    tiebreak_col: str | None = None) -> DataFrame:
    """Bounded sliding-window fan-out (SURVEY.md §4): each beat lands
    in exactly width/stride windows via explode(sequence), window id =
    integer epoch-µs start; the lag-diff ``d`` is computed WITHIN each
    (record, window) — the reference slices the series before diffing,
    so diffs never cross window starts.

    The lag runs ONCE per record BEFORE the explode: the in-window
    predecessor of a beat is always its global predecessor (both are in
    [ws, ws+width) and nothing lies between them), so d is the global
    successive diff masked to NULL when the predecessor falls before
    the window start (prev_us < ws_us). One window sort over n beats
    instead of k·n exploded rows across n·k tiny partitions — at 100 TB
    that removes the dominant exchange+sort entirely."""
    k = width_us // stride_us
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = W.partitionBy(record_col).orderBy(*order)
    base = (rr.withColumn("__us", F.unix_micros(ts_col))
              .withColumn("__d_raw", F.col(rri_col) - F.lag(rri_col).over(w))
              .withColumn("__prev_us", F.lag("__us").over(w)))
    ex = (base.withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
              .withColumn("ws_us", (F.floor(F.col("__us") / stride_us) * stride_us
                                    - F.col("g").cast("long") * stride_us)
                          .cast("long")))
    return (ex.withColumn("d", F.when(F.col("__prev_us") >= F.col("ws_us"),
                                      F.col("__d_raw")))
              .drop("__us", "__d_raw", "__prev_us", "g"))


def triangular_index(rr: DataFrame, record_col: str = "record_id",
                     rri_col: str = "rri", bin_ms: float = 7.8125) -> DataFrame:
    """n / max-bin-count over a fixed-width RR histogram — two hash
    aggregations, no sort, no UDF."""
    binned = rr.withColumn("__bin", F.floor(F.col(rri_col) / F.lit(bin_ms)))
    per_bin = binned.groupBy(record_col, "__bin").agg(F.count(F.lit(1)).alias("__c"))
    return per_bin.groupBy(record_col).agg(
        r6(F.sum("__c").cast("double") / F.max("__c")).alias("triangular_index")
    )
