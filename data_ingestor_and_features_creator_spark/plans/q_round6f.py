"""Round-6f operator additions: deterministic ML primitives.

A fully SQL-oracled K-means (the first clustering op here whose every
iteration is cross-engine exact — sim_ivf_ann's MLlib quantizer is
rows-only), a half-life recency score, the discrete percentile
variant, and an RNG-free bootstrap confidence interval via the
portable Knuth hash (the data_split_hash discipline applied to
resampling).

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK]); Lloyd's algorithm,
percentile-disc semantics and the bootstrap are textbook [PK].

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum_raw, dsum_raw_sql
from .registry import query


# ---------------------------------------------------------------------------
# Deterministic two-iteration K-means (long-form, SQL-oracled)
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_DIM = 64  # fixture embedding length (len(embedding) == 64)


def _km_assign_sql(cent: str) -> str:
    """One Lloyd assignment pass against centroid CTE ``cent``."""
    return f"""
  SELECT vec_id, c FROM (
    SELECT p.vec_id, {cent}.c,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {dsum_raw_sql(f'(p.v - {cent}.cv) * (p.v - {cent}.cv)')},
                      {cent}.c) AS rn
    FROM pts p JOIN {cent} ON p.dim = {cent}.dim
    GROUP BY p.vec_id, {cent}.c) WHERE rn = 1"""


def _km_update_sql(assign: str) -> str:
    """Centroid update from assignment CTE ``assign``."""
    return f"""
  SELECT a.c, p.dim,
         {dsum_raw_sql('p.v')} / COUNT(*) AS cv
  FROM {assign} a JOIN pts p ON a.vec_id = p.vec_id
  GROUP BY a.c, p.dim"""


@query("ml_kmeans_two_iter", oracle=f"""
WITH pts AS (
  SELECT vec_id, g.d AS dim, CAST(embedding[g.d + 1] AS DOUBLE) AS v
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(0, {_KM_DIM - 1})) AS d) g),
seeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS c
  FROM (SELECT DISTINCT vec_id FROM pts ORDER BY vec_id LIMIT {_KM_K})),
cent0 AS (
  SELECT s.c, p.dim, p.v AS cv
  FROM seeds s JOIN pts p ON s.vec_id = p.vec_id),
a1 AS ({_km_assign_sql('cent0')}),
cent1 AS ({_km_update_sql('a1')}),
a2 AS ({_km_assign_sql('cent1')}),
cent2 AS ({_km_update_sql('a2')}),
sizes AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_points FROM a2 GROUP BY c)
SELECT s.c AS cluster, s.n_points, cent2.dim,
       ROUND(cent2.cv, 6) AS centroid
FROM sizes s JOIN cent2 ON s.c = cent2.c
""")
def ml_kmeans_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC K-MEANS (Lloyd [PK]), two full iterations,
    CROSS-ENGINE EXACT — the first clustering op here whose every
    step is SQL-oracle-checkable (sim_ivf_ann's MLlib quantizer is
    rows-only because its init RNG is engine-private): seeds = the
    k={_KM_K} smallest vec_ids (no RNG), vectors in LONG FORM
    (vec_id, dim, v) so distance is a plain join+group — float32
    inputs widen to double exactly, every Σ(v−c)² and every centroid
    mean runs through DECIMAL (fold-order-proof), and the argmin has
    a total-order tiebreak (d², then cluster id) — assignments are
    therefore IDENTICAL on both engines, not merely close. Output:
    per-cluster sizes + all {_KM_K}×{_KM_DIM} centroid coordinates.

    Scale shape: each iteration is one join of the long-form points
    against a k×d centroid table (broadcast — it is k·d rows at ANY
    corpus size) plus two map-side-combined aggregates; cost is
    O(n·d·k) work with NO per-iteration shuffle of the corpus beyond
    the (vec_id, c) assignment agg. Fixed iteration count = fixed
    plan depth (driver-loop-free); production KMeans runs the same
    loop to convergence with the centroid table staying
    driver-small."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = (emb.select("vec_id",
                      F.posexplode("embedding").alias("dim", "v0"))
              .select("vec_id", "dim",
                      F.col("v0").cast("double").alias("v")))
    seeds = (emb.select("vec_id").orderBy("vec_id").limit(_KM_K)
                .select("vec_id",
                        F.row_number().over(W.orderBy("vec_id"))
                         .cast("bigint").alias("c")))
    cent = (seeds.join(pts, "vec_id")
                 .select("c", "dim", F.col("v").alias("cv")))

    def assign(cent_df):
        d2 = dsum_raw((F.col("v") - F.col("cv"))
                      * (F.col("v") - F.col("cv"))).alias("d2")
        g = (pts.join(F.broadcast(cent_df), "dim")
                .groupBy("vec_id", "c").agg(d2))
        wr = W.partitionBy("vec_id").orderBy("d2", "c")
        return (g.withColumn("rn", F.row_number().over(wr))
                 .filter(F.col("rn") == 1).select("vec_id", "c"))

    def update(assign_df):
        return (assign_df.join(pts, "vec_id")
                .groupBy("c", "dim")
                .agg((dsum_raw(F.col("v")) / F.count(F.lit(1))).alias("cv")))

    a1 = assign(cent)
    cent1 = update(a1)
    a2 = assign(cent1)
    cent2 = update(a2)
    sizes = a2.groupBy("c").agg(F.count(F.lit(1)).alias("n_points"))
    return (sizes.join(cent2, "c")
                 .select(F.col("c").alias("cluster"), "n_points", "dim",
                         F.round("cv", 6).alias("centroid")))


# ---------------------------------------------------------------------------
# Half-life recency decay score per user
# ---------------------------------------------------------------------------

_HALF_LIFE_DAYS = 7.0


@query("win_decay_score", oracle=f"""
WITH f AS (SELECT MAX(CAST(ts AS DATE)) AS hi FROM events),
v AS (
  SELECT user_id,
         date_diff('day', CAST(ts AS DATE), (SELECT hi FROM f)) AS age
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_raw_sql(
           f"ROUND(power(0.5, age / {_HALF_LIFE_DAYS}), 9)")}
         AS decay_score
FROM v GROUP BY user_id
""")
def win_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALF-LIFE RECENCY SCORE per user [PK — exponential decay
    weighting, the standard engagement/recency feature]: every event
    contributes 0.5^(age_days/{_HALF_LIFE_DAYS:g}), so activity
    {_HALF_LIFE_DAYS:g} days before the corpus frontier counts half
    as much as today's — the smooth alternative to feature_rfm_scores'
    hard recency quantile. Age anchors at the frontier max date
    (never now()); each power term is pinned to 9 dp (the
    pinned-log discipline — power's 1-ulp cross-engine drift only
    matters on a 9-dp boundary) then DECIMAL-summed and emitted
    UNROUNDED: the sum of 9-dp-grid terms is itself exactly on the
    1e-9 grid, so a further 6-dp ROUND can land exactly on the
    7th-digit half-grid where the engines' conventions split — the
    round-7 SKEW gate caught precisely that on the fat partition
    (one user's 200k identical-age terms summed to ...X5). The
    decimal→double cast is exact here (≤11 significant digits, far
    inside the 16-digit bound). One map-side-combined aggregate +
    a 1-row broadcast frontier."""
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max(F.to_date("ts")).alias("hi"))
    v = (ev.crossJoin(F.broadcast(hi))
           .select("user_id",
                   F.datediff("hi", F.to_date("ts")).alias("age")))
    term = F.round(F.pow(F.lit(0.5),
                         F.col("age") / F.lit(_HALF_LIFE_DAYS)), 9)
    return (v.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  dsum_raw(term).alias("decay_score")))


# ---------------------------------------------------------------------------
# Discrete percentile (an ACTUAL value, not an interpolation)
# ---------------------------------------------------------------------------

@query("agg_percentile_disc", oracle="""
WITH v AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_disc,
       MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90_disc
FROM r GROUP BY event_type
""")
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE PERCENTILE per group [PK — SQL percentile_disc
    semantics]: returns an ACTUAL data value (the first whose
    cumulative rank reaches ⌈p·n⌉), where agg_percentile's continuous
    form interpolates a value that never occurred — the distinction
    that matters when the column is a latency you want to quote as a
    real request, or a code-valued column where interpolation is
    meaningless. Both engines run the SAME rank spelling (target
    rank via pure integer arithmetic — (n+1)//2 and (9n+9)//10 are
    ceil(p·n) without any float), so no engine-native quantile
    convention is trusted. The picked value is a scan-native double —
    emitted unrounded (house rule: exact passthroughs don't round).
    At 100 TB swap the per-group sort for the two-pass
    agg_percentile_exact_scalable bucketing; the rank-target
    arithmetic is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type", "value"))
    wp = W.partitionBy("event_type")
    r = (v.withColumn("rn", F.row_number().over(wp.orderBy("value")))
          .withColumn("n", F.count(F.lit(1)).over(wp)))
    return (r.groupBy("event_type")
             .agg(F.max("n").cast("bigint").alias("n"),
                  F.min(F.when(F.col("rn")
                               == F.floor((F.col("n") + 1) / 2),
                               F.col("value"))).alias("p50_disc"),
                  F.min(F.when(F.col("rn")
                               == F.floor((9 * F.col("n") + 9) / 10),
                               F.col("value"))).alias("p90_disc")))


# ---------------------------------------------------------------------------
# RNG-free bootstrap confidence interval (portable-hash resampling)
# ---------------------------------------------------------------------------

_BOOT_REPS = 30


@query("stat_bootstrap_ci_hash", oracle=f"""
WITH v AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS idx
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM v GROUP BY event_type),
draws AS (
  SELECT nn.event_type, r.rep, j.j,
         (((j.j * 1009 + r.rep) % 1000003) * 2654435761)
           % 1000003 % nn.n + 1 AS idx
  FROM nn,
       LATERAL (SELECT unnest(generate_series(1, {_BOOT_REPS})) AS rep) r,
       LATERAL (SELECT unnest(generate_series(1, nn.n)) AS j) j),
rep_means AS (
  SELECT d.event_type, d.rep,
         {dsum_raw_sql('v.value')} / COUNT(*) AS m
  FROM draws d
  JOIN v ON v.event_type = d.event_type AND v.idx = d.idx
  GROUP BY d.event_type, d.rep)
SELECT event_type,
       ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
       ROUND(quantile_cont(m, 0.5), 6) AS ci_mid,
       ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
FROM rep_means GROUP BY event_type
""")
def stat_bootstrap_ci_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP CONFIDENCE INTERVAL for each group's mean — with
    ZERO RNG [PK — Efron bootstrap; resampling via the portable
    Knuth hash, the data_split_hash discipline applied to draws]:
    draw j of replicate r picks source row ((j·1009+r) mod 1000003 ·
    2654435761) mod 1000003 mod n — every engine recomputes the SAME
    {_BOOT_REPS} resamples, so the whole CI is hash-checkable where a
    rand()-seeded bootstrap never can be (and row order can't leak
    in: the resampling index is itself rank-defined by (value,
    event_id)). Replicate means run through DECIMAL; the CI is the
    exact quantile of {_BOOT_REPS} identical doubles. Scale: the
    draws table is reps×n rows of pure arithmetic joined back on an
    equi-key — at 100 TB swap full-n resamples for m-out-of-n
    (little-bags) draws, same construction with m ≪ n; the
    Poissonized bootstrap is the other standard scale-out, traded
    away here because its per-row weights need a portable Poisson
    quantile table."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type", "value", "event_id"))
    wv = W.partitionBy("event_type").orderBy("value", "event_id")
    v = v.withColumn("idx", F.row_number().over(wv)) \
         .select("event_type", "value", "idx")
    nn = v.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    draws = (nn.select("event_type", "n",
                       F.explode(F.sequence(F.lit(1), F.lit(_BOOT_REPS)))
                        .alias("rep"))
               .select("event_type", "n", "rep",
                       F.explode(F.sequence(F.lit(1), F.col("n")))
                        .alias("j"))
               .select("event_type", "rep",
                       ((((F.col("j") * 1009 + F.col("rep")) % 1000003)
                         * F.lit(2654435761)) % 1000003 % F.col("n") + 1)
                       .alias("idx")))
    rep_means = (draws.join(v, ["event_type", "idx"])
                      .groupBy("event_type", "rep")
                      .agg((dsum_raw(F.col("value")) / F.count(F.lit(1)))
                           .alias("m")))
    return (rep_means.groupBy("event_type")
            .agg(F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
                 F.round(F.expr("percentile(m, 0.5)"), 6).alias("ci_mid"),
                 F.round(F.expr("percentile(m, 0.975)"), 6)
                  .alias("ci_hi")))
