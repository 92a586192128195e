"""Round-6e operator additions: RAKE keyphrases, NOT IN null
semantics, multi-lag autocorrelation, compression-codec sinks.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK]); RAKE is Rose et al. 2010
[PK], the NOT IN trap is ANSI three-valued logic [PK], ACF is
textbook time-series [PK].

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC, dsum_raw, dsum_raw_sql
from ..operators import textops
from .registry import query, scratch_dir


# Small fixed stopword list shared verbatim by both engines (RAKE
# delimiters). Lowercase; the corpus text is matched lowercased.
_RAKE_STOPS = ("the a an and or of to in on for with is are was were be "
               "this that it as at by from").split()


# ---------------------------------------------------------------------------
# RAKE keyword extraction (stopword-delimited phrases, degree/freq)
# ---------------------------------------------------------------------------

_STOPS_SQL = ", ".join(f"'{s}'" for s in _RAKE_STOPS)


@query("text_rake_keywords", oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(lower(text), ' ')) AS w,
         unnest(generate_series(1, len(string_split(lower(text), ' '))))
           AS pos
  FROM documents),
t2 AS (
  SELECT doc_id, pos, w,
         CASE WHEN w IN ({_STOPS_SQL}) OR w = '' THEN 1 ELSE 0 END
           AS is_stop
  FROM tok),
isl AS (
  SELECT doc_id, pos, w, is_stop,
         CAST(SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS phrase_id
  FROM t2),
phrase_words AS (
  SELECT doc_id, phrase_id, pos, w FROM isl WHERE is_stop = 0),
plen AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM phrase_words GROUP BY doc_id, phrase_id),
wstats AS (
  SELECT pw.w,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen.plen) AS BIGINT) AS degree
  FROM phrase_words pw
  JOIN plen ON pw.doc_id = plen.doc_id AND pw.phrase_id = plen.phrase_id
  GROUP BY pw.w),
phrases AS (
  SELECT pw.doc_id, pw.phrase_id,
         string_agg(pw.w, ' ' ORDER BY pw.pos) AS phrase,
         {dsum_raw_sql('CAST(ws.degree AS DOUBLE) / ws.freq')} AS score
  FROM phrase_words pw JOIN wstats ws ON pw.w = ws.w
  GROUP BY pw.doc_id, pw.phrase_id),
agg AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur,
         ROUND(MAX(score), 6) AS score
  FROM phrases GROUP BY phrase)
SELECT phrase, n_occur, score,
       CAST(row_number() OVER (ORDER BY score DESC, phrase) AS BIGINT)
         AS rnk
FROM agg
ORDER BY score DESC, phrase
LIMIT 15
""")
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010 [PK]): candidate
    phrases are maximal stopword-delimited token runs (gaps-and-
    islands over token positions — the win_streaks_islands pattern
    applied to text); each word scores degree/freq (degree = Σ length
    of phrases containing it), each phrase the DECIMAL-summed word
    scores; top-15 phrases corpus-wide with a total order. Everything
    is integer counts and exact rationals — no libm. Scale shape:
    posexplode + two doc-local windows (all keyed by doc_id), then a
    vocab-sized word-stats aggregate broadcast back onto phrase
    words; the corpus shuffles once on doc_id and once on the
    (bounded) phrase key — never an all-pairs anything."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(textops.tokens(F.lower("text"))).alias("pos0", "w"))
    t2 = tok.select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "w",
        F.when(F.col("w").isin(*_RAKE_STOPS) | (F.col("w") == ""), 1)
         .otherwise(0).alias("is_stop"))
    wi = (W.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    isl = t2.withColumn("phrase_id",
                        F.sum("is_stop").over(wi).cast("bigint"))
    pw = isl.filter(F.col("is_stop") == 0) \
            .select("doc_id", "phrase_id", "pos", "w")
    plen = (pw.groupBy("doc_id", "phrase_id")
              .agg(F.count(F.lit(1)).alias("plen")))
    wstats = (pw.join(plen, ["doc_id", "phrase_id"])
                .groupBy("w")
                .agg(F.count(F.lit(1)).alias("freq"),
                     F.sum("plen").cast("bigint").alias("degree")))
    score_w = F.col("degree").cast("double") / F.col("freq")
    phrases = (pw.join(F.broadcast(wstats), "w")
                 .groupBy("doc_id", "phrase_id")
                 .agg(F.concat_ws(
                          " ", F.array_sort(F.collect_list(
                              F.struct("pos", "w"))).getField("w"))
                      .alias("phrase"),
                      dsum_raw(score_w).alias("score")))
    agg = (phrases.groupBy("phrase")
                  .agg(F.count(F.lit(1)).alias("n_occur"),
                       F.round(F.max("score"), 6).alias("score")))
    wr = W.orderBy(F.desc("score"), F.col("phrase"))
    return (agg.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
               .orderBy(F.desc("score"), "phrase").limit(15))


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS null semantics (the three-valued-logic trap)
# ---------------------------------------------------------------------------

_NOT_IN_SQL = """
WITH excl AS (
  SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
           AS k
  FROM customer),
probe AS (SELECT DISTINCT o_custkey FROM orders)
SELECT 'not_in' AS method, CAST(COUNT(*) AS BIGINT) AS n
FROM probe WHERE o_custkey NOT IN (SELECT k FROM excl)
UNION ALL
SELECT 'not_exists' AS method, CAST(COUNT(*) AS BIGINT) AS n
FROM probe p
WHERE NOT EXISTS (SELECT 1 FROM excl e WHERE e.k = p.o_custkey)
UNION ALL
SELECT 'not_in_null_filtered' AS method, CAST(COUNT(*) AS BIGINT) AS n
FROM probe
WHERE o_custkey NOT IN (SELECT k FROM excl WHERE k IS NOT NULL)
"""


@query("sql_not_in_null_semantics", oracle=_NOT_IN_SQL)
def sql_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE NOT IN NULL TRAP pinned as an operator [PK — ANSI
    three-valued logic]: a single NULL in the subquery makes every
    `x NOT IN (...)` predicate UNKNOWN, so the query silently returns
    ZERO rows — while NOT EXISTS (and LEFT ANTI, its plan twin)
    return the expected complement set. The op runs all three forms
    as ONE identical ANSI text on both engines (the q1 dialect-pin
    pattern) over an exclusion list with planted NULLs: n(not_in)=0,
    n(not_exists)=n(not_in_null_filtered)>0 — the divergence IS the
    result, executable documentation of the classic ETL data-loss
    bug. Plan note: Spark compiles NOT IN to NullAwareAntiJoin
    (broadcast-only at scale — the null-aware check can't SMJ) vs
    plain LeftAnti for NOT EXISTS; at 100 TB the NOT EXISTS form is
    the only one that shuffles, which is itself a reason to never
    write NOT IN on a big probe side."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(
            f"__notin_{t}")
    sql = (_NOT_IN_SQL.replace("FROM customer", "FROM __notin_customer")
                      .replace("FROM orders", "FROM __notin_orders"))
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# Multi-lag autocorrelation function per user
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 5, 8)


def _acf_branch_sql(lag: int) -> str:
    return f"""
  SELECT user_id, {lag} AS lag, value AS x,
         lag(value, {lag}) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS y
  FROM v"""


@query("ts_acf_multi_lag", oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
pairs AS ({' UNION ALL '.join(_acf_branch_sql(k) for k in _ACF_LAGS)}),
s AS (
  SELECT user_id, lag,
         CAST(COUNT(y) AS DOUBLE) AS n,
         {dsum_raw_sql('CASE WHEN y IS NOT NULL THEN x END')} AS sx,
         {dsum_raw_sql('y')} AS sy,
         {dsum_raw_sql('CASE WHEN y IS NOT NULL THEN x * x END')} AS sxx,
         {dsum_raw_sql('y * y')} AS syy,
         {dsum_raw_sql('x * y')} AS sxy
  FROM pairs GROUP BY user_id, lag)
SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       CASE WHEN n >= 3 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0
            THEN ROUND((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy)), 6)
       END AS acf
FROM s
""")
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION at lags {1,2,3,5,8} per user [PK] —
    the global ACF profile (is the series periodic? at what lag?)
    complementing win_rolling_corr's local lag-1 monitor; the
    input a seasonality test reads before picking win_holt_linear vs
    ts_seasonal_decompose. ALL lag columns come from ONE window sort
    (five lag() calls share the (user, ts) ordering), are unpivoted
    to (user, lag, x, y) pairs, and each (user, lag) cell assembles
    Pearson from six DECIMAL-exact sums — sqrt is IEEE-exact,
    degenerate cells NULL. Scale: one shuffle on user_id for the
    window, one map-side-combined agg on (user, lag) — the unpivot
    is a 5× row map, never a join."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", F.col("value").alias("x"),
        *[F.lag("value", k).over(wl).alias(f"y{k}") for k in _ACF_LAGS])
    pairs = lagged.select(
        "user_id", "x",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"y{k}").alias("y"))
            for k in _ACF_LAGS])).alias("p")) \
        .select("user_id", F.col("p.lag").alias("lag"), "x",
                F.col("p.y").alias("y"))
    xm = F.when(F.col("y").isNotNull(), F.col("x"))
    s = pairs.groupBy("user_id", "lag").agg(
        F.count("y").cast("double").alias("n"),
        dsum_raw(xm).alias("sx"), dsum_raw(F.col("y")).alias("sy"),
        dsum_raw(xm * xm).alias("sxx"),
        dsum_raw(F.col("y") * F.col("y")).alias("syy"),
        dsum_raw(F.col("x") * F.col("y")).alias("sxy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.when((F.col("n") >= 3) & (vx > 0) & (vy > 0),
                 F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6))
    return s.select("user_id", F.col("lag").cast("bigint").alias("lag"),
                    F.col("n").cast("bigint").alias("n"),
                    acf.alias("acf"))


# ---------------------------------------------------------------------------
# Compression-codec sink round trips
# ---------------------------------------------------------------------------

@query("sink_compressed_codecs", oracle=f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_raw_sql('value')} AS total_value
FROM events WHERE value IS NOT NULL AND NOT isnan(value)
GROUP BY event_type
""")
def sink_compressed_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET COMPRESSION CODECS round trip — snappy (the
    read-optimized default), zstd (the 100 TB storage default:
    ~30-50% smaller at similar scan cost on modern cores), and gzip
    (the legacy interop codec) [SPARK]: the same events table written
    through all three codecs, read back, unioned, and aggregated at
    weight 1/3 each — equality with the source aggregate proves every
    codec's round trip lossless and type-faithful. Codec choice is a
    table property, not a semantics change; the on-disk size ordering
    (zstd < gzip < snappy-or-so) is asserted in tests, not the
    oracle (sizes are layout-dependent). At 100 TB: zstd for cold
    fact storage, snappy for hot intermediates — this op is the
    correctness floor under that policy. NaN rows are filtered like
    NULL on BOTH sides (ADVICE r6): an unguarded NaN faults the DuckDB
    oracle's DECIMAL cast while Spark silently nulls it — the exact
    divergence the _not_nan/_nn_sql guard exists for."""
    import os
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value"))
          .select("event_id", "event_type", "value"))
    base = scratch_dir("sink_codecs")
    outs = []
    for codec in ("snappy", "zstd", "gzip"):
        out = os.path.join(base, codec)
        ev.write.mode("overwrite").option("compression", codec) \
          .parquet(out)
        outs.append(out)
    back = spark.read.parquet(*outs)
    return (back.groupBy("event_type")
                .agg((F.count(F.lit(1)) / 3).cast("bigint").alias("n"),
                     (F.sum(F.col("value").cast(DEC)) / 3)
                     .cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# GROUPING_ID: subtotal NULLs vs data NULLs
# ---------------------------------------------------------------------------

@query("agg_grouping_id_flags", oracle=f"""
WITH v AS (
  SELECT event_type,
         CASE WHEN value IS NOT NULL AND NOT isnan(value) AND value >= 0
              THEN CAST(FLOOR(value / 50) AS BIGINT) END AS bucket
  FROM events),
g AS (
  SELECT event_type, bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(GROUPING(event_type) AS BIGINT) AS g_type,
         CAST(GROUPING(bucket) AS BIGINT) AS g_bucket
  FROM v GROUP BY ROLLUP(event_type, bucket))
SELECT COALESCE(event_type, CASE WHEN g_type = 1 THEN '<ALL>'
                                 ELSE '<NULL>' END) AS event_type,
       COALESCE(CAST(bucket AS VARCHAR),
                CASE WHEN g_bucket = 1 THEN '<ALL>' ELSE '<NULL>' END)
         AS bucket,
       n, g_type, g_bucket
FROM g
""")
def agg_grouping_id_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() FLAGS over ROLLUP — the trap every subtotal report
    hits [PK]: a rolled-up dimension emits NULL, and so does a REAL
    NULL in the data, so 'WHERE dim IS NULL' silently conflates
    missing data with the subtotal row. The bucket dim here is
    genuinely NULL for NULL/NaN/negative values, so both NULL kinds
    coexist and the GROUPING() bit is the ONLY correct disambiguator
    — rendered '<ALL>' (subtotal) vs '<NULL>' (data) in the output.
    agg_grouping_sets/agg_cube pinned the Expand plumbing; this pins
    the semantic flag both engines expose identically. Scale: one
    Expand pass, map-side-combined — rollup adds rows-per-grouping-
    set, not shuffles."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(F.col("value").isNotNull() & ~F.isnan("value")
                    & (F.col("value") >= 0),
                    F.floor(F.col("value") / 50).cast("bigint"))
    v = ev.select("event_type", bucket.alias("bucket"))
    g = (v.rollup("event_type", "bucket")
          .agg(F.count(F.lit(1)).alias("n"),
               F.grouping("event_type").cast("bigint").alias("g_type"),
               F.grouping("bucket").cast("bigint").alias("g_bucket")))
    et = F.coalesce(F.col("event_type"),
                    F.when(F.col("g_type") == 1, F.lit("<ALL>"))
                     .otherwise(F.lit("<NULL>")))
    bk = F.coalesce(F.col("bucket").cast("string"),
                    F.when(F.col("g_bucket") == 1, F.lit("<ALL>"))
                     .otherwise(F.lit("<NULL>")))
    return g.select(et.alias("event_type"), bk.alias("bucket"),
                    "n", "g_type", "g_bucket")


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON = 5


@query("audit_k_anonymity", oracle=f"""
WITH q AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) % 7 AS dow,
         CASE WHEN value IS NULL OR isnan(value) THEN -1
              WHEN value < 1 THEN 0
              ELSE length(CAST(CAST(floor(abs(value)) AS BIGINT)
                               AS VARCHAR)) END AS mag,
         user_id
  FROM events),
g AS (
  SELECT event_type, dow, mag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM q GROUP BY event_type, dow, mag)
SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(mag AS BIGINT) AS mag,
       n_rows, n_users,
       n_users < {_K_ANON} AS at_risk
FROM g
""")
def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT [PK — Sweeney 2002]: group the table by its
    QUASI-IDENTIFIER combination (event_type × day-of-week ×
    value-magnitude bucket — the kind of externally-joinable
    attributes that re-identify users) and flag every equivalence
    class with fewer than k={_K_ANON} distinct users: those rows are
    re-identification risks that a release pipeline must suppress or
    generalize. Buckets reuse the engine's exact integer primitives
    (epoch-day mod 7; digit-count magnitude — no libm log10);
    at_risk is a non-nullable boolean (house rule). Scale: one
    hash aggregate on a bounded QI domain (|types|·7·~20 cells) with
    a two-level distinct expansion — map-side partials carry
    (cell, user) pairs, never raw rows."""
    ev = load_table(spark, sf_dir, "events")
    a = F.abs(F.col("value"))
    mag = (F.when(F.col("value").isNull() | F.isnan("value"), F.lit(-1))
            .when(a < 1, F.lit(0))
            .otherwise(F.length(
                F.floor(a).cast("bigint").cast("string"))))
    q = ev.select(
        "event_type",
        ((F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint") % 7)
        .alias("dow"),
        mag.cast("bigint").alias("mag"), "user_id")
    g = (q.groupBy("event_type", "dow", "mag")
          .agg(F.count(F.lit(1)).alias("n_rows"),
               F.countDistinct("user_id").alias("n_users")))
    return g.select("event_type", "dow", "mag", "n_rows", "n_users",
                    (F.col("n_users") < _K_ANON).alias("at_risk"))


# ---------------------------------------------------------------------------
# TTL retention: partition-grain purge planning
# ---------------------------------------------------------------------------

_TTL_DAYS = 30


@query("maintain_ttl_partition_purge", oracle=f"""
WITH f AS (SELECT MAX(ts) AS hi FROM events),
p AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(ts) AS lo_ts, MAX(ts) AS hi_ts
  FROM events GROUP BY day)
SELECT day, n_rows,
       CAST(date_diff('day', day, CAST((SELECT hi FROM f) AS DATE))
            AS BIGINT) AS age_days,
       (hi_ts < (SELECT hi FROM f) - INTERVAL {_TTL_DAYS} DAY)
         AS purge_whole,
       (hi_ts >= (SELECT hi FROM f) - INTERVAL {_TTL_DAYS} DAY
        AND lo_ts < (SELECT hi FROM f) - INTERVAL {_TTL_DAYS} DAY)
         AS straddles
FROM p
""")
def maintain_ttl_partition_purge(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TTL RETENTION PLANNING at PARTITION grain — the operational
    doctrine behind every data-retention job at 100 TB: deletion is
    cheap ONLY when it drops whole partitions (a metadata operation);
    row-level deletes rewrite files. This op classifies every day
    partition of the events table against a {_TTL_DAYS}-day TTL
    anchored at the corpus frontier (never now() — reproducible):
    purge_whole = the partition's max ts is entirely past the
    cutoff (droppable as a unit), straddles = the partition spans
    the cutoff (the ONLY one needing a row-filter rewrite; with
    day-grain partitions on a day-grain TTL, at most one). Both
    flags non-nullable booleans (house rule). Scale: one map-side-
    combined per-day aggregate — the purge PLAN is date-span-sized,
    and executing it touches only the flagged partitions."""
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("ts").alias("hi"))
    p = (ev.groupBy(F.to_date("ts").alias("day"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.min("ts").alias("lo_ts"), F.max("ts").alias("hi_ts")))
    cutoff = F.col("hi") - F.expr(f"INTERVAL {_TTL_DAYS} DAY")
    return (p.crossJoin(F.broadcast(hi))
             .select("day", "n_rows",
                     F.datediff(F.to_date("hi"), F.col("day"))
                      .cast("bigint").alias("age_days"),
                     (F.col("hi_ts") < cutoff).alias("purge_whole"),
                     ((F.col("hi_ts") >= cutoff)
                      & (F.col("lo_ts") < cutoff)).alias("straddles")))


# ---------------------------------------------------------------------------
# Hive partition-column TYPE INFERENCE pin
# ---------------------------------------------------------------------------

@query("scan_hive_partition_types", oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part_day,
       'date' AS inferred_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY part_day
""")
def scan_hive_partition_types(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """HIVE PARTITION-COLUMN TYPE INFERENCE pinned [SPARK]: writing
    day=2024-01-15 directories and reading the tree back, Spark
    infers the partition column as DATE (partitionColumnTypeInference
    — yyyy-MM-dd dirs become DateType, digit dirs become numeric),
    NOT the string the directory literally is. The inferred dtype is
    emitted AS A COLUMN (read from the actual schema, not assumed),
    so a silent inference change — version upgrade, config flip —
    breaks the hash, not just downstream date arithmetic. The
    read-back per-partition counts prove the partition round trip
    lossless. Scale: partition listing is date-span-sized; the scan
    prunes on the typed partition column (test_partitioned_sink
    pins PartitionFilters)."""
    import os
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(scratch_dir("scan_hive_types"), "events_by_day")
    (ev.withColumn("day", F.to_date("ts"))
       .write.mode("overwrite").partitionBy("day").parquet(out))
    back = spark.read.parquet(out)
    inferred = dict(back.dtypes)["day"]
    return (back.groupBy(F.col("day").cast("string").alias("part_day"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select("part_day",
                        F.lit(inferred).alias("inferred_type"), "n"))
