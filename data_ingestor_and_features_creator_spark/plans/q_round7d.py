"""Round-7d operator additions: feature-engineering primitives for
training pipelines (hashing trick, cyclical time encoding, Matryoshka
prefix-energy), sequential A/B testing (Wald SPRT), and a BPE merge
step for tokenizer training.

Provenance (SURVEY.md §0 applies — empty reference checkout): the
hashing trick is Weinberger et al. [PK]; cyclical encoding is the
standard sin/cos trick [PK]; SPRT is Wald 1945 [PK]; BPE is Sennrich
et al. [PK]; Matryoshka representation learning is Kusupati et al.
[PK].

Float discipline (functions/exact.py rules): SPRT log constants are
pinned to 9 dp IN PYTHON and inlined as identical literals into both
engines' texts (zero libm at query time); trig features are pinned
9 dp then signed-zero normalized; prefix-energy sums are
full-precision doubles string-routed through DECIMAL and their ratios
emitted UNROUNDED (win_vwap convention). Hashing and BPE are
integer/string exact end to end.

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead of
these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC
from .registry import query


# Wald SPRT for Bernoulli H0: p=0.30 vs H1: p=0.35, alpha = beta = 0.05.
# ln() evaluated ONCE in Python and pinned to 9 dp — both engines see
# the same literal, so there is no libm in either plan.
_SPRT_A = 0.15415068      # round(ln(p1/p0), 9)
_SPRT_B = -0.074107972    # round(ln((1-p1)/(1-p0)), 9)
_SPRT_UP = 2.944438979    # round(ln((1-beta)/alpha), 9)
_SPRT_LO = -2.944438979   # symmetric boundary

_HASH_D = 64  # hashing-trick dimensionality


@query("feature_hashing_trick", oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok
  FROM documents),
t AS (SELECT tok FROM tok WHERE tok <> ''),
h AS (
  SELECT tok,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
           % {_HASH_D} AS idx,
         CASE WHEN CAST(concat('0x', substr(md5(tok), 9, 1)) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM t)
SELECT CAST(idx AS INT) AS idx,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(sgn) AS BIGINT) AS net_sign
FROM h GROUP BY idx
""")
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE HASHING TRICK (Weinberger et al. [PK]) — fixed-width
    feature vectors with no vocabulary pass: feature index =
    md5(token) mod D, sign = parity of the next hash nibble (the
    signed variant that makes collisions cancel in expectation rather
    than bias upward). The cross-engine trap: Spark's hash()/xxhash64
    and DuckDB's hash() are DIFFERENT algorithms, so the only
    hash-stable spelling is a shared standard digest — md5's first 8
    hex chars parsed as an integer (Spark conv(hex,16,10), DuckDB
    '0x' cast; both < 2^32 so no sign trouble). Per-bucket token and
    distinct-token counts plus the NET SIGN expose both the load
    distribution and the cancellation behavior. One exchange on idx;
    at 100 TB the map side pre-aggregates (idx, sign) partials, and
    the vocabulary-free property is the point — no broadcast dict,
    no out-of-vocabulary path."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
             .filter(F.col("tok") != ""))
    h = t.select(
        "tok",
        (F.expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)")
         % _HASH_D).alias("idx"),
        F.when(F.expr(
            "CAST(conv(substring(md5(tok), 9, 1), 16, 10) AS BIGINT)")
            % 2 == 0, 1).otherwise(-1).alias("sgn"))
    return (h.groupBy(F.col("idx").cast("int").alias("idx"))
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  F.countDistinct("tok").alias("n_distinct_tokens"),
                  F.sum("sgn").alias("net_sign")))


# ---------------------------------------------------------------------------
# Cyclical (sin/cos) time encoding
# ---------------------------------------------------------------------------

@query("feature_cyclical_time_encode", oracle="""
WITH h AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
         CAST(EXTRACT(dow FROM ts) AS INT) % 7 AS dow,
         value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
SELECT hod, dow,
       CAST(COUNT(*) AS BIGINT) AS n,
       (ROUND(sin(2.0 * pi() * hod / 24.0), 9) + 0.0) AS hod_sin,
       (ROUND(cos(2.0 * pi() * hod / 24.0), 9) + 0.0) AS hod_cos,
       (ROUND(sin(2.0 * pi() * dow / 7.0), 9) + 0.0) AS dow_sin,
       (ROUND(cos(2.0 * pi() * dow / 7.0), 9) + 0.0) AS dow_cos
FROM h GROUP BY hod, dow
""")
def feature_cyclical_time_encode(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """CYCLICAL TIME ENCODING [PK — the standard sin/cos trick]: hour
    23 and hour 0 are one hour apart, but as raw integers they are 23
    apart — mapping each cyclic unit onto the unit circle
    (sin/cos(2πu/P)) gives any distance-based or linear model the
    true circular geometry. Emits the (hour, day-of-week) feature
    grid with row counts — the bounded image of the row-level
    feature. Cross-engine float care: sin/cos are libm and drift 1
    ulp, so the features are PINNED to 9 dp on both engines (the
    q_round6d ln-pinning discipline applied to trig) and then
    SIGNED-ZERO NORMALIZED with + 0.0 — cos(3π/2) ≈ −1.8e-16 rounds
    to −0.0 under IEEE (DuckDB) but +0.0 under BigDecimal (Spark),
    the scalar_rounding_conventions driver-red class; π is the same
    nearest-double on both; the 2πu/P argument is identical IEEE
    arithmetic. DOW convention pinned too: DuckDB's EXTRACT(dow)
    is 0=Sunday..6, Spark's dayofweek() is 1=Sunday..7 — the oracle's
    %7 and Spark's −1 meet at 0=Sunday. At 100 TB the encode is one
    zero-shuffle codegen projection at feature-build time."""
    ev = load_table(spark, sf_dir, "events")
    h = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select(F.hour("ts").cast("int").alias("hod"),
                   ((F.dayofweek("ts") - 1) % 7).cast("int").alias("dow"),
                   "value"))
    two_pi = 2.0 * F.lit(3.141592653589793)
    return (h.groupBy("hod", "dow")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.round(F.sin(two_pi * F.col("hod") / 24.0), 9) + 0.0)
                 .alias("hod_sin"),
                 (F.round(F.cos(two_pi * F.col("hod") / 24.0), 9) + 0.0)
                 .alias("hod_cos"),
                 (F.round(F.sin(two_pi * F.col("dow") / 7.0), 9) + 0.0)
                 .alias("dow_sin"),
                 (F.round(F.cos(two_pi * F.col("dow") / 7.0), 9) + 0.0)
                 .alias("dow_cos")))


# ---------------------------------------------------------------------------
# Wald sequential probability ratio test per variant stream
# ---------------------------------------------------------------------------

@query("ab_sequential_sprt", oracle=f"""
WITH v AS (
  SELECT event_type, ts, event_id,
         CASE WHEN value IS NOT NULL AND NOT isnan(value)
                   AND value > 50.0 THEN 1 ELSE 0 END AS x
  FROM events),
s AS (
  SELECT event_type,
         ROW_NUMBER() OVER w AS t,
         CAST(SUM(x) OVER w AS DOUBLE) AS h
  FROM v WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
llr AS (
  SELECT event_type, t,
         {_SPRT_A} * h + {_SPRT_B} * (t - h) AS llr_t
  FROM s),
x AS (
  SELECT event_type,
         CAST(MAX(t) AS BIGINT) AS n_total,
         CAST(MIN(CASE WHEN llr_t >= {_SPRT_UP} OR llr_t <= {_SPRT_LO}
                       THEN t END) AS BIGINT) AS first_cross_t
  FROM llr GROUP BY event_type)
SELECT x.event_type, x.n_total, x.first_cross_t,
       CASE WHEN x.first_cross_t IS NULL THEN 'continue'
            WHEN c.llr_t >= {_SPRT_UP} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       f.llr_t AS llr_final
FROM x
LEFT JOIN llr c ON c.event_type = x.event_type
                AND c.t = x.first_cross_t
JOIN llr f ON f.event_type = x.event_type AND f.t = x.n_total
""")
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT (1945 [PK]) per variant stream — the sequential A/B
    monitor that may STOP EARLY with error guarantees instead of
    waiting for ab_power_sample_size's fixed n: H0 p=0.30 vs H1
    p=0.35 on the high-value-event rate, α = β = 0.05. For Bernoulli
    data the log-likelihood ratio collapses to a·hits + b·misses
    with CONSTANT coefficients, so the whole sequential test is one
    cumulative integer count per stream — the detector is exact
    arithmetic on ints times two literals. Those literals (and the
    decision boundaries) are ln() evaluated once in PYTHON and pinned
    to 9 dp into both engines' texts — query-time libm is zero, so
    the LLR path is bit-identical by construction. Emits per variant:
    stream length, first boundary-crossing time, the decision at the
    crossing, and the final LLR (unrounded — products of a 9-dp
    literal with ints are exact IEEE both sides). One event_type
    exchange; the cumulative window shares its sort."""
    ev = load_table(spark, sf_dir, "events")
    x = F.when(F.col("value").isNotNull() & ~F.isnan("value")
               & (F.col("value") > 50.0), 1).otherwise(0)
    v = ev.select("event_type", "ts", "event_id", x.alias("x"))
    w = (W.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    s = v.select(
        "event_type",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("t"),
        F.sum("x").over(w).cast("double").alias("h"))
    llr = s.select(
        "event_type", "t",
        (_SPRT_A * F.col("h")
         + _SPRT_B * (F.col("t") - F.col("h"))).alias("llr_t"))
    xed = (llr.groupBy("event_type")
           .agg(F.max("t").alias("n_total"),
                F.min(F.when((F.col("llr_t") >= _SPRT_UP)
                             | (F.col("llr_t") <= _SPRT_LO), F.col("t")))
                .alias("first_cross_t")))
    cross = llr.select(F.col("event_type").alias("et_c"),
                       F.col("t").alias("t_c"),
                       F.col("llr_t").alias("llr_cross"))
    fin = llr.select(F.col("event_type").alias("et_f"),
                     F.col("t").alias("t_f"),
                     F.col("llr_t").alias("llr_final"))
    out = (xed
           .join(cross, (F.col("et_c") == F.col("event_type"))
                 & (F.col("t_c") == F.col("first_cross_t")), "left")
           .join(fin, (F.col("et_f") == F.col("event_type"))
                 & (F.col("t_f") == F.col("n_total"))))
    decision = (F.when(F.col("first_cross_t").isNull(), "continue")
                 .when(F.col("llr_cross") >= _SPRT_UP, "accept_h1")
                 .otherwise("accept_h0"))
    return out.select("event_type", "n_total", "first_cross_t",
                      decision.alias("decision"), "llr_final")


# ---------------------------------------------------------------------------
# One BPE merge step (most frequent adjacent character pair)
# ---------------------------------------------------------------------------

@query("vocab_bpe_pair_merge", oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok WHERE length(w) >= 2 GROUP BY w),
pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
  FROM wf, LATERAL (
    SELECT unnest(generate_series(1, length(w) - 1)) AS i) g),
cnt AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM pairs GROUP BY pair),
rk AS (
  SELECT pair, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
  FROM cnt)
SELECT CAST(rnk AS INT) AS rnk, pair, cnt FROM rk WHERE rnk <= 10
""")
def vocab_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE BPE MERGE STEP (Sennrich et al. [PK]) — the inner loop of
    tokenizer training: over the corpus word-frequency table, count
    every ADJACENT CHARACTER PAIR weighted by word frequency and rank
    the merge candidates; the top pair is what the next BPE iteration
    would fuse. Spark-first shape: the pair generator is
    sequence(1, len−1) exploded against substr — set-based, no Python
    — and the frequency weighting means the pair count aggregates
    over the (usually tiny) DISTINCT-WORD table, not the corpus:
    at 100 TB the word-frequency table is the only corpus-sized
    aggregate, everything after is vocabulary-sized. Integer/string
    exact; top-10 under a total order (cnt DESC, pair) per the house
    LIMIT rule. Full BPE training = this op iterated with a
    merge-apply step (string replace) between rounds — the driver
    loop composition the registry models elsewhere
    (dedup_minhash_cluster's CC rounds)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select(F.explode(F.split("text", " ")).alias("w"))
               .filter(F.length("w") >= 2))
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        F.expr("explode(transform(sequence(1, length(w) - 1), "
               "i -> substring(w, CAST(i AS INT), 2)))").alias("pair"),
        "freq")
    cnt = pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    rk = cnt.select(
        F.row_number().over(W.orderBy(F.desc("cnt"), "pair"))
        .cast("int").alias("rnk"), "pair", "cnt")
    return rk.filter(F.col("rnk") <= 10)


# ---------------------------------------------------------------------------
# Matryoshka prefix-energy ratio (truncated-embedding quality)
# ---------------------------------------------------------------------------

_MRL_K = 16  # prefix dimensionality under evaluation


@query("vec_prefix_energy_matryoshka", oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         CAST(generate_subscripts(embedding, 1) AS INT) AS pos
  FROM embeddings),
pv AS (
  SELECT vec_id, label,
         CAST(SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,12)))
              AS DOUBLE) AS e_full,
         CAST(SUM(CAST(CAST(CASE WHEN pos <= {_MRL_K} THEN x * x
                            ELSE 0.0 END AS VARCHAR)
              AS DECIMAL(38,12))) AS DOUBLE) AS e_prefix
  FROM e GROUP BY vec_id, label),
r AS (
  SELECT label, e_prefix / e_full AS ratio
  FROM pv WHERE e_full > 0)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(CAST(ratio AS VARCHAR) AS DECIMAL(38,12)))
            AS DOUBLE) / COUNT(*) AS mean_prefix_energy,
       MIN(ratio) AS min_prefix_energy
FROM r GROUP BY label
""")
def vec_prefix_energy_matryoshka(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """MATRYOSHKA PREFIX-ENERGY RATIO [PK — Kusupati et al.'s MRL
    made the first-k-dims-are-a-valid-embedding property standard]:
    ||x[:k]||² / ||x||² per vector, aggregated per label — the
    go/no-go metric before truncating stored embeddings 4× (k = 16
    of 64): if the prefix carries ~k/d of the energy the embedding
    was NOT matryoshka-trained and truncation will crater recall;
    energy concentrated in the prefix licenses the cheap index.
    Float discipline: float32→double casts exact; x² full-precision
    doubles so BOTH per-vector energy sums are STRING-ROUTED through
    DECIMAL(38,12) (dsum_str rule); the per-vector ratio is a
    quotient of bit-identical doubles; its per-label mean re-routes
    through decimal and is emitted UNROUNDED (win_vwap convention).
    Positions via posexplode ≡ generate_subscripts (1-based both).
    One explode + two-level aggregate, map-side combinable."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos0", "xf")
    ).select("vec_id", "label",
             (F.col("pos0") + 1).cast("int").alias("pos"),
             F.col("xf").cast("double").alias("x"))
    x2 = F.col("x") * F.col("x")
    pre = F.when(F.col("pos") <= _MRL_K, x2).otherwise(F.lit(0.0))
    pv = (e.groupBy("vec_id", "label")
           .agg(F.sum(x2.cast("string").cast(DEC)).cast("double")
                .alias("e_full"),
                F.sum(pre.cast("string").cast(DEC)).cast("double")
                .alias("e_prefix")))
    r = (pv.filter(F.col("e_full") > 0)
           .select("label",
                   (F.col("e_prefix") / F.col("e_full")).alias("ratio")))
    return (r.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 (F.sum(F.col("ratio").cast("string").cast(DEC))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("mean_prefix_energy"),
                 F.min("ratio").alias("min_prefix_energy")))
