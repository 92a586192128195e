"""Numeric helpers for oracle-stable results (SURVEY.md §5 house rules).

Floating-point aggregation order differs between engines, so a double
SUM/AVG/STDDEV at sf0.01 can differ in the last bits — and a value that
lands on a 6-dp rounding boundary then hashes differently (observed:
AVG giving ...87 vs ...88 at the 6th dp). Fix, applied to every
moment-based statistic:

1. per-row expressions stay in double (IEEE ops are deterministic
   across engines for identical inputs);
2. the *sums* run through DECIMAL(38,12) (order-independent; 12-dp
   scale because Σx²−(Σx)²/n cancellation amplifies the cast's
   quantization error — 6 dp was observed to shift std(60000/rri) by
   2e-5, far above the 6-dp output round);
3. the statistic is assembled from those exact sums with scalar double
   arithmetic (again deterministic);
4. a final 6-dp round guards against round()-implementation drift.

Result: Spark and DuckDB produce bit-identical doubles before the
round, so the round can't straddle a boundary. The decimal detour stays
inside whole-stage codegen (decimal sum is JVM-intrinsic); use plain
double sums on bench-only paths if profiling ever shows it hot.

SCALE LIMIT, measured (round 4, 6M-row sf1-ish run): once a group's
exact 12-dp decimal sum needs more significant digits than a double
holds (~16 — reached around sums of 1e10 with 6 meaningful dp, i.e.
~500k rows/group of e4-magnitude values), the final DECIMAL→DOUBLE
conversion itself becomes the divergence: the nearest-double choice
differs between the engines' conversion routines at the last ulp
(observed on TPC-H q1 at sf1-ish: 21/22 queries still match; q1's
four e10 sums differ by 1 ulp ≈ 4e-6 — and even the plain
sum_base_price with no products diverges, proving the cast, not the
summation, is the limit). No double-typed output can beat this bound
— the information exceeds the type; the robust form at that scale is
a DECIMAL-typed output column end-to-end. ROUND 5 BUILT THAT PATH:
sql_tpch_q1 now emits its four e10 sums as DECIMAL(38,12) (per-row
cast routed through STRING so both engines quantize the same shortest
round-trip representation — their DIRECT double→decimal casts
disagree at ~1e-12/row), and the compare path keeps decimals exact
(tests/oracle_compare.py duck_fetch fetches decimal-emitting oracles
through Arrow; norm_cell compares >16-significant-digit decimals by
their exact digits). Result: 22/22 TPC-H ORACLE MATCH at the 6M-row
sf1-ish scale — the bound is closed for any op that opts into
decimal-typed outputs. At the driver's sf0.01 correctness scale every
double-typed oracle remains ~100× inside the bound and stays green.

SECOND remedy (round 5, win_rolling_skew_kurt): when a >16-digit
decimal must come back as a DOUBLE for downstream float arithmetic,
route the DECIMAL→DOUBLE boundary through STRING as well —
CAST(CAST(dec AS STRING) AS DOUBLE). A decimal printed to its exact
digit string and re-parsed is correctly rounded on both engines
(Java parseDouble and C strtod are required-correct; the direct
casts are not — observed one ulp apart on a 17-digit x³ sum).

FOURTH rule (round 7, scalar_rounding_conventions): a hash-checked
DOUBLE output must never be able to carry −0.0. BigDecimal-backed
rounding (Spark bround) has no signed zero, IEEE double arithmetic
(DuckDB's 2·round(x/2) emulation) does — the driver's hash formats
the sign and mismatches even though pandas' == treats them equal.
Normalize with `+ 0.0` (−0.0 + 0.0 = +0.0 under IEEE round-to-nearest)
or emit an integer type when the value is exact by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,12)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _not_nan(col: Column) -> Column:
    """NaN≡missing guard (round 6, found by the nulls fixture): the
    engines DISAGREE on NaN meeting a decimal cast — Spark's
    CAST(NaN AS DECIMAL) yields NULL (row silently skipped), DuckDB's
    FAULTS the whole query. Neither is a usable semantic at 100 TB, so
    the exact-sum family pins one explicitly: NaN is excluded like
    NULL, on both engines, in the sum AND the matching count. The
    guard double-casts first so int-typed inputs stay legal."""
    return F.when(~F.isnan(col.cast("double")), col)


def dsum(col: Column | str) -> Column:
    """Exact sum of a double column, returned as double (NaN rows
    excluded as missing — see _not_nan)."""
    return F.sum(_not_nan(_c(col)).cast(DEC)).cast("double")


def dcount(col: Column | str) -> Column:
    """COUNT matching dsum's missing-data semantics: NULL and NaN rows
    both excluded, so mean/variance assembled from (dsum, dcount) stay
    consistent."""
    return F.count(_not_nan(_c(col)))


def dmean(col: Column | str) -> Column:
    """AVG built from an exact sum (bit-stable across engines)."""
    c = _c(col)
    return dsum(c) / dcount(c)


def dvar_samp(col: Column | str) -> Column:
    """Sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1)."""
    c = _c(col)
    n = dcount(c).cast("double")
    sx = dsum(c)
    sxx = dsum(c * c)
    return (sxx - sx * sx / n) / (n - F.lit(1.0))


def dstd_samp(col: Column | str) -> Column:
    return F.sqrt(dvar_samp(col))


def dsum_dec(col: Column | str) -> Column:
    """SCALE-ROBUST exact sum: DECIMAL(38,12)-typed OUTPUT (round 5).
    Use instead of ``dsum`` when a sum can exceed a double's ~16
    significant digits (e10 magnitude with 6 meaningful dp — see the
    scale-limit note above): the double-typed form then diverges
    between engines at the final DECIMAL→DOUBLE cast, while the
    decimal-typed form compares digit-exactly at any magnitude. The
    per-row cast routes through STRING because the engines' direct
    double→decimal casts disagree (Spark quantizes the shortest
    round-trip representation, DuckDB the exact binary expansion,
    ~1e-12/row) — both engines PRINT a double as its shortest
    round-trip form, so summing the string-cast decimals is
    bit-identical cross-engine. Pair with ``dsum_dec_sql``.

    DOMAIN BOUND (probed with 5,000 adversarial doubles,
    tests/test_decimal_path.py): per-row values must lie in
    ~[1e-11, 1e16]. Above ~1e17 Java 17's legacy Double.toString
    emits non-minimal digits ('1.9999999999999998E23' where Ryu
    prints '2e+23' — both round-trip, different decimals), and below
    the 1e-12 quantum the engines' sub-quantum rounding differs; both
    regimes are orders of magnitude outside any per-row fixture value
    (prices ≤ 1e6). The SUM may exceed 1e16 freely — only the per-row
    cast has the bound. NaN rows are excluded as missing (_not_nan),
    same as dsum."""
    return F.sum(_not_nan(_c(col)).cast("string").cast(DEC)).cast(DEC)


def dsum_dec_str(col: Column | str) -> Column:
    """``dsum_dec`` emitted as its exact fixed-point STRING — the
    DRIVER-BOUNDARY form of the scale-robust sum (round 8, from the
    round-7 driver red on agg_rollup_decimal_exact). A DECIMAL-typed
    output column is digit-exact inside both engines, but the DRIVER's
    fetch paths disagree about its *representation*: Spark's toPandas
    keeps decimal.Decimal('…115399985363') while DuckDB's pandas fetch
    degrades to float64 ('…1154') — identical values, different cell
    reprs, hash mismatch. Casting the decimal to STRING removes the
    representation from the engines' hands: both print DECIMAL(38,12)
    as the same full 12-dp fixed-point form (verified incl. zero,
    negatives, 24-digit magnitudes — neither engine uses scientific
    notation for decimals), so the column is digit-exact at any
    magnitude AND hash-stable through any fetch path. House rule
    (plans/registry.py): no DecimalType column may reach hash-checked
    output — this helper is the sanctioned replacement."""
    return dsum_dec(col).cast("string")


def r6(col: Column) -> Column:
    """Round a statistic to 6 dp (final oracle-stability guard).

    The trailing ``+ 0.0`` normalizes signed zero (fourth float rule,
    module docstring): ROUND of a tiny negative (−1e-9 → 6 dp) yields
    −0.0 under IEEE arithmetic (DuckDB) but +0.0 under BigDecimal
    (Spark), and the driver's hash formats the sign. IEEE guarantees
    −0.0 + 0.0 = +0.0 and x + 0.0 = x for every other x (NULL/NaN/Inf
    propagate unchanged), so the normalization is value-free."""
    return F.round(col, 6) + F.lit(0.0)


def ln9(col: Column) -> Column:
    """ln pinned to 9 dp — the cross-engine-stable log primitive. libm
    ln() drifts 1 ulp between engines; rounded to 9 dp that drift only
    matters if it straddles a 9-dp boundary (measure-zero), and every
    later fold runs on the pinned values (plans/q_round6d docstring)."""
    return F.round(F.log(col), 9)


def dsum_raw(col: Column) -> Column:
    """Exact DECIMAL(38,12) sum returned as double, WITHOUT dsum's
    NaN≡missing guard: a NaN row nulls in Spark's cast and faults
    DuckDB's. For callers whose plan keeps the input NaN-free; their
    plans and oracle SQL predate the guard and keep its absence."""
    return F.sum(col.cast(DEC)).cast("double")


def safe_sqrt(x: Column) -> Column:
    """NULL-on-negative square root. Variances assembled from exact
    sums can cancel to ~-1e-17 for near-constant groups, and the sd2
    operand (2·var_nni − 0.5·var_d) can go genuinely negative in tiny
    windows: Spark's sqrt would emit NaN there while DuckDB FAULTS —
    both sides guard to NULL instead (same policy as safe_div)."""
    return F.when(x >= 0, F.sqrt(x))


def safe_div(num: Column, den: Column) -> Column:
    """NULL-on-zero division. ANSI mode faults the whole job on x/0;
    degenerate groups (constant series → sd1 = 0, single row → n−1 = 0)
    must yield NULL features instead of killing a 100 TB run."""
    return F.when(den != 0, num / den)


# --- DuckDB SQL twins (string builders used inside oracle queries) ---

def _nn_sql(expr: str) -> str:
    """DuckDB twin of _not_nan: NaN → NULL before any decimal cast
    (DuckDB faults casting NaN to DECIMAL; Spark silently NULLs —
    both engines now share the explicit NaN≡missing semantic)."""
    return (f"CASE WHEN NOT isnan(CAST(({expr}) AS DOUBLE)) "
            f"THEN ({expr}) END")


def dsum_sql(expr: str) -> str:
    return (f"CAST(SUM(CAST(({_nn_sql(expr)}) AS DECIMAL(38,12)))"
            f" AS DOUBLE)")


def dsum_raw_sql(expr: str) -> str:
    """DuckDB twin of dsum_raw (no NaN guard)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,12))) AS DOUBLE)"


def dcount_sql(expr: str) -> str:
    return f"COUNT({_nn_sql(expr)})"


def dmean_sql(expr: str) -> str:
    return f"({dsum_sql(expr)} / {dcount_sql(expr)})"


def dvar_samp_sql(expr: str) -> str:
    e = expr
    n = f"CAST({dcount_sql(e)} AS DOUBLE)"
    return (f"(({dsum_sql(f'({e})*({e})')} - {dsum_sql(e)} * {dsum_sql(e)}"
            f" / {n}) / ({n} - 1.0))")


def dstd_samp_sql(expr: str) -> str:
    return f"SQRT({dvar_samp_sql(expr)})"


def dsum_dec_sql(expr: str) -> str:
    """DuckDB twin of ``dsum_dec`` (decimal-typed, string-routed,
    NaN≡missing)."""
    return (f"CAST(SUM(CAST(CAST(({_nn_sql(expr)}) AS STRING)"
            f" AS DECIMAL(38,12))) AS DECIMAL(38,12))")


def dsum_dec_str_sql(expr: str) -> str:
    """DuckDB twin of ``dsum_dec_str`` (VARCHAR-typed, same fixed-point
    print both engines)."""
    return f"CAST({dsum_dec_sql(expr)} AS VARCHAR)"


def dsum_str(col: Column | str) -> Column:
    """Fully STRING-ROUTED exact sum, double output: the per-row
    double→decimal cast AND the final decimal→double cast both go
    through STRING (dsum_dec's argument, applied in both directions).
    Use instead of ``dsum`` when the sum feeds a CANCELLING difference
    of large terms: dsum's direct per-row cast quantizes half-ulp
    differently per engine (~2.4e-7 absolute at e9 magnitude) —
    invisible after a 6-dp round of the sum itself, but NOT after
    subtracting two e9 sums that agree to 9 digits (found round 6:
    stat_anova_oneway's SS_between at the 1M-row blow-up mismatched
    in the 6th dp). NaN≡missing, same as dsum. Same per-row domain
    bound as dsum_dec (~[1e-11, 1e16])."""
    return (F.sum(_not_nan(_c(col)).cast("string").cast(DEC))
             .cast("string").cast("double"))


def dsum_str_sql(expr: str) -> str:
    """DuckDB twin of ``dsum_str``."""
    return (f"CAST(CAST(SUM(CAST(CAST(({_nn_sql(expr)}) AS STRING)"
            f" AS DECIMAL(38,12))) AS STRING) AS DOUBLE)")


def r6_sql(expr: str) -> str:
    """DuckDB twin of r6 — same signed-zero normalization (−0.0 + 0.0
    = +0.0; every other value, incl. NULL/NaN, passes through)."""
    return f"(ROUND(({expr}), 6) + 0.0)"


def ln9_sql(expr: str) -> str:
    """DuckDB twin of ln9."""
    return f"ROUND(ln({expr}), 9)"


def safe_sqrt_sql(expr: str) -> str:
    """DuckDB twin of safe_sqrt (CASE guard; DuckDB errors on SQRT<0)."""
    return f"CASE WHEN ({expr}) >= 0 THEN SQRT({expr}) END"


def safe_div_sql(num: str, den: str) -> str:
    """DuckDB twin of safe_div: NULL on zero denominator (DuckDB's
    x/0 is Inf for doubles, error for integers — both diverge from
    Spark ANSI's fault; the shared semantic is NULL)."""
    return f"CASE WHEN ({den}) <> 0 THEN ({num}) / ({den}) END"


def dec12_sum_py(vals) -> float:
    """Python-side replica of ``dsum`` — CAST(double AS DECIMAL(38,12))
    summation: quantize each exact binary value to 12 dp (half-even,
    matching the engines' cast), sum exactly, return the double. Lets
    pandas/Arrow kernels participate in the same bit-stable oracle
    contract the JVM decimal sums get for free.

    Implementation is exact INTEGER arithmetic on the double's binary
    rational (as_integer_ratio → scaled floor-division with a
    ties-to-even adjustment) — equivalent to Decimal.quantize
    HALF_EVEN (property-tested incl. negatives and exact ties) and
    ~3× faster, which matters in the per-key streaming-state kernel
    where this runs over every value.

    The final DECIMAL→DOUBLE conversion goes through ``Fraction`` so
    it is correctly rounded at ANY magnitude: float(Decimal(total)/P)
    under the default 28-digit context would double-round once the
    scaled sum exceeds 28 digits (~1e16 totals) and could pick a
    different nearest double than the engines' direct cast."""
    from fractions import Fraction

    import math

    P = 10**12
    total = 0
    for x in vals:
        if math.isnan(x):
            continue  # NaN≡missing, matching dsum/_not_nan
        n, d = float(x).as_integer_ratio()
        q, r = divmod(n * P, d)
        r2 = r * 2
        if r2 > d or (r2 == d and q & 1):
            q += 1
        total += q
    return float(Fraction(total, P))


def nn(col: Column | str) -> Column:
    """PUBLIC NaN→NULL guard (round 9, full-registry nulls sweep):
    the _not_nan gate for use INSIDE window/order-sensitive
    expressions where the dsum family doesn't apply — NaN becomes
    missing (NULL) before any DECIMAL cast, quantile argument, or
    arithmetic that the two engines would otherwise diverge on
    (Spark silently NULLs NaN→DECIMAL, DuckDB faults; Spark sorts
    NaN greatest inside percentile, DuckDB propagates it)."""
    return _not_nan(_c(col))


def nn_sql(expr: str) -> str:
    """DuckDB twin of ``nn`` (public alias of the oracle-side
    NaN→NULL gate)."""
    return _nn_sql(expr)
