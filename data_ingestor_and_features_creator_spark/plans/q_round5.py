"""Round-5 operator additions.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
these extend the engine along the driver north star with the batch
patterns a production feature platform runs daily and the SURVEY §2
tables did not yet name explicitly: incremental materialized-view
maintenance (merge partial aggregates instead of recomputing — THE
cost lever for rolling 100 TB rollups), snapshot diffing (the audit
between two table versions), session path analysis (ordered funnel
paths, the product-analytics staple), and a grouping-sets rollup on
the round-5 DECIMAL-typed exact-sum path (scale-robust revenue
totals that stay digit-exact past a double's precision).

House rules throughout (plans/registry.py): no RNG, no libm
transcendentals, decimal-exact float sums, total orders before any
LIMIT, aliases identical on both engines.

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the round-4 never-sampled backlog ahead of
these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import (DEC, dsum_dec_sql, dsum_sql, r6_sql,
                               safe_sqrt_sql)
from .registry import query


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (merge partials ≡ recompute)
# ---------------------------------------------------------------------------

_MV_SPLIT = "1997-01-01"


@query("maintain_incremental_agg", oracle=f"""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders GROUP BY o_custkey
""")
def maintain_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE: the per-customer
    order rollup is maintained as BASE-partials (orders before
    {_MV_SPLIT}, the already-materialized history) MERGED with
    DELTA-partials (the new batch) — never recomputed over the full
    fact. The oracle IS the full recompute, so the gate proves the
    maintenance identity merge(partial(base), partial(delta)) ≡
    full(base ∪ delta). The partials keep their sums DECIMAL(38,12)
    until after the merge (decimal addition is associative, so the
    split point is semantically invisible; merging double-typed
    partials would reintroduce fold-order drift) and cast to double
    once at the end. At 100 TB this is THE rollup cost model: the
    daily delta shuffles, the history never moves — base partials are
    a ~|keys| table, re-aggregated in one tiny shuffle. COUNT and SUM
    are the mergeable pair; the same shape carries any commutative
    monoid (min/max/bitmap/HLL)."""
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(_MV_SPLIT).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy("o_custkey")
                  .agg(F.count(F.lit(1)).alias("pn"),
                       F.sum(F.col("o_totalprice").cast(DEC)).alias("ps")))

    base = partial(o.filter(F.col("o_orderdate") < split))
    delta = partial(o.filter(F.col("o_orderdate") >= split))
    return (base.unionByName(delta)
            .groupBy("o_custkey")
            .agg(F.sum("pn").alias("n_orders"),
                 F.sum("ps").cast("double").alias("total_price")))


# ---------------------------------------------------------------------------
# Snapshot diff (added / removed / changed between two table versions)
# ---------------------------------------------------------------------------

@query("snapshot_diff", oracle="""
WITH v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
v1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 = 0)
SELECT COALESCE(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
       CASE WHEN v1.o_orderkey IS NULL THEN 'added'
            WHEN v2.o_orderkey IS NULL THEN 'removed'
            WHEN v1.o_totalprice <> v2.o_totalprice
              OR v1.o_orderstatus <> v2.o_orderstatus THEN 'changed'
            ELSE 'same' END AS change
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
""")
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF between two versions of a table — the audit every
    lakehouse pipeline runs after a backfill: which keys were added,
    removed, or changed, and which survived untouched. The two
    versions are derived deterministically from the fixture (v1 drops
    every 10th key → 'added' in v2, perturbs every 7th price →
    'changed', and carries phantom high keys → 'removed'), so the
    oracle reproduces them exactly and the classification logic — a
    FULL OUTER join on the key plus null-aware value comparison — is
    what is actually under test. One shuffle per side on the unique
    key (collision-free, unskewable); at scale the join is
    bucketing-removable and the value compare extends to a digest
    column (md5 of the concatenated row) so wide tables diff on one
    16-byte comparison per key."""
    o = load_table(spark, sf_dir, "orders")
    v2 = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    v1 = (o.filter(F.col("o_orderkey") % 10 != 0)
           .select("o_orderkey",
                   F.when(F.col("o_orderkey") % 7 == 0,
                          F.col("o_totalprice") + 1.0)
                    .otherwise(F.col("o_totalprice"))
                    .alias("o_totalprice"),
                   "o_orderstatus")
           .unionByName(
               o.filter(F.col("o_orderkey") % 13 == 0)
                .select((F.col("o_orderkey") + 100000000)
                        .alias("o_orderkey"),
                        "o_totalprice", "o_orderstatus")))
    j = v1.alias("v1").join(v2.alias("v2"),
                            F.col("v1.o_orderkey") == F.col("v2.o_orderkey"),
                            "full_outer")
    change = (
        F.when(F.col("v1.o_orderkey").isNull(), "added")
         .when(F.col("v2.o_orderkey").isNull(), "removed")
         .when((F.col("v1.o_totalprice") != F.col("v2.o_totalprice"))
               | (F.col("v1.o_orderstatus") != F.col("v2.o_orderstatus")),
               "changed")
         .otherwise("same"))
    return j.select(
        F.coalesce(F.col("v2.o_orderkey"), F.col("v1.o_orderkey"))
         .alias("o_orderkey"),
        change.alias("change"))


# ---------------------------------------------------------------------------
# Session path analysis (ordered funnel paths per session)
# ---------------------------------------------------------------------------

_PATH_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
_PATH_LEN = 5


@query("win_session_paths", oracle=f"""
WITH c AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us, ts
  FROM events),
flagged AS (
  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                   OR us - LAG(us) OVER w > {_PATH_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
              ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
  FROM flagged),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY us, event_id) AS rn
  FROM sess),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_LEN}
  GROUP BY user_id, session_id)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths GROUP BY path
""")
def win_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION PATH ANALYSIS — the product-analytics staple funnels
    are built from: sessionize (30-min gap), take each session's
    first {_PATH_LEN} event types IN ORDER, and count sessions and
    distinct users per ordered path string ('view>click>purchase…').
    The sessionize→rank stages share ONE user_id exchange (the
    sessionize_timeout plan shape); the path string is built with an
    ORDER-pinned aggregation over the (us, event_id) total order so
    both engines concatenate identically; only the final path rollup
    re-shuffles, on a key whose cardinality is the path vocabulary
    (small — paths are 5 tokens over a tiny event-type alphabet). At
    100 TB this is one fact pass + one tiny shuffle; the path column
    feeds straight into funnel conversion and next-step Markov
    models (seq_transition_probs)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select("user_id", "event_id", "event_type", "ts",
                  us.alias("us"))
    flagged = c.withColumn(
        "new_s",
        F.when(F.lag("us").over(w).isNull()
               | ((F.col("us") - F.lag("us").over(w)) > _PATH_GAP_US), 1)
         .otherwise(0))
    wc = (W.partitionBy("user_id").orderBy("us", "event_id")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(wc).cast("long"))
    wr = W.partitionBy("user_id", "session_id").orderBy("us", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(wr))
    paths = (ranked.filter(F.col("rn") <= _PATH_LEN)
             .groupBy("user_id", "session_id")
             .agg(F.concat_ws(
                 ">", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("rn", "event_type"))),
                     lambda s: s["event_type"])).alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.countDistinct("user_id").alias("n_users")))


# ---------------------------------------------------------------------------
# Decimal-exact revenue rollup over grouping sets (scale-robust totals)
# ---------------------------------------------------------------------------

@query("agg_rollup_decimal_exact", oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST({dsum_dec_sql('l_extendedprice * (1 - l_discount)')}
            AS VARCHAR) AS revenue
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def agg_rollup_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL REVENUE ROLLUP on the exact-decimal sum path:
    revenue at (returnflag, linestatus), per-flag, and grand-total
    levels in ONE pass via ROLLUP, with every total computed as
    DECIMAL(38,12) through dsum_dec (functions/exact.py) — digit-exact
    even when the grand total exceeds a double's ~16 significant
    digits — and EMITTED AS ITS FIXED-POINT STRING (round 8): the
    round-7 driver red showed the DRIVER's two fetch paths represent a
    decimal column differently (Spark toPandas keeps decimal.Decimal,
    DuckDB's pandas fetch degrades to float64 — identical values,
    divergent hashes). Both engines print DECIMAL(38,12) as the same
    full 12-dp fixed-point string, so the string column is digit-exact
    at any magnitude AND hash-stable (dsum_dec_str house rule: no
    DecimalType at the driver boundary). Grouping-set NULLs are
    COALESCEd to the 'ALL' sentinel (the fixture flags are non-null,
    so the sentinel is unambiguous). Rollup is partial-aggregation-
    friendly: Spark expands the sets AFTER the map-side combine, so
    the fact is read and pre-aggregated once — and the STRING→DECIMAL
    row cast is PROJECTED BEFORE the rollup, so Expand replicates a
    computed decimal value per grouping set, never the cast expression
    (the ×|sets| recompute the first cut paid — sweep 7.3 s → warm
    1.7 s → this shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pre = li.select("l_returnflag", "l_linestatus",
                    rev.cast("string").cast(DEC).alias("rev_dec"))
    return (pre.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("rev_dec").cast(DEC).cast("string").alias("revenue"))
            .select(F.coalesce("l_returnflag", F.lit("ALL"))
                     .alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL"))
                     .alias("linestatus"),
                    "n_items", "revenue"))


# ---------------------------------------------------------------------------
# Matryoshka truncation-recall audit (embedding dim-reduction quality)
# ---------------------------------------------------------------------------

_MRL_DIMS = 16
_MRL_K = 10
# Query-batch cap: a broadcast query side in a non-equi scoring join
# must be bounded by CONTRACT, not by hoping the sample stays small —
# deterministic (ORDER BY qid) top-N, chosen above every fixture's
# query count (max 20 at 2000 vectors) so it never binds locally while
# making the bound mechanical for tools/scan_broadcast_hints.py.
_MRL_QCAP = 256


def _mrl_dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product (the q_llm._dot_sql pattern: fold
    order fixed left-to-right on both engines → bit-identical)."""
    return (f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            f"(x, y) -> x + y)")


@query("vec_matryoshka_eval", oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe,
                  embedding[1:{_MRL_DIMS}] AS qt
           FROM embeddings WHERE vec_id % 100 = 0
           ORDER BY vec_id LIMIT {_MRL_QCAP}),
c AS (SELECT vec_id AS cid, embedding AS ce,
             embedding[1:{_MRL_DIMS}] AS ct
      FROM embeddings),
p AS (SELECT qid, cid,
             {_mrl_dot_sql('qe', 'ce')}
               / (SQRT({_mrl_dot_sql('qe', 'qe')})
                  * SQRT({_mrl_dot_sql('ce', 'ce')})) AS cos_full,
             {_mrl_dot_sql('qt', 'ct')}
               / (SQRT({_mrl_dot_sql('qt', 'qt')})
                  * SQRT({_mrl_dot_sql('ct', 'ct')})) AS cos_trunc
      FROM q, c WHERE qid <> cid),
r AS (SELECT qid, cid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_full DESC, cid) AS rk_full,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_trunc DESC, cid) AS rk_trunc
      FROM p)
SELECT a.qid,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       COALESCE(MAX(a.rk_full = 1 AND b.rk_trunc = 1), false) AS top1_same
FROM r a JOIN r b ON a.qid = b.qid AND a.cid = b.cid
WHERE a.rk_full <= {_MRL_K} AND b.rk_trunc <= {_MRL_K}
GROUP BY a.qid
""")
def vec_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION-RECALL AUDIT — the measurement behind
    shipping truncated (MRL-style) embeddings: for each query vector,
    how much of the exact full-dimension cosine top-{_MRL_K} survives
    when vectors are truncated to their first {_MRL_DIMS} dims
    (recall@k overlap count, plus whether the top-1 neighbor is
    preserved)? Both rankings use the sequential-fold dot product
    (bit-identical cross-engine) with a (score desc, cid) total-order
    tiebreak, and the OUTPUT is pure integers/booleans — overlap
    counts — so the oracle hash never touches a float. Scale shape:
    query side broadcast over one corpus scan (|Q|·|C| scored rows,
    |Q| tiny), both rankings derived from the SAME scored pass; at
    100 TB the corpus streams once and the audit costs one extra
    column per candidate. Decide the truncation dim from THIS table,
    not from hope."""
    from ..operators.similarity import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") % 100 == 0)
            .orderBy("vec_id").limit(_MRL_QCAP)
            .select(F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("qe"),
                    F.slice("embedding", 1, _MRL_DIMS).alias("qt")))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("ce"),
                   F.slice("embedding", 1, _MRL_DIMS).alias("ct"))
    p = (c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
          .withColumn("cos_full",
                      dot("qe", "ce") / (l2_norm("qe") * l2_norm("ce")))
          .withColumn("cos_trunc",
                      dot("qt", "ct") / (l2_norm("qt") * l2_norm("ct"))))
    r = (p.withColumn("rk_full", F.row_number().over(
            W.partitionBy("qid").orderBy(F.desc("cos_full"), F.col("cid"))))
          .withColumn("rk_trunc", F.row_number().over(
            W.partitionBy("qid").orderBy(F.desc("cos_trunc"),
                                         F.col("cid")))))
    return (r.filter((F.col("rk_full") <= _MRL_K)
                     & (F.col("rk_trunc") <= _MRL_K))
             .groupBy("qid")
             .agg(F.count(F.lit(1)).alias("n_overlap"),
                  F.coalesce(F.max((F.col("rk_full") == 1)
                                   & (F.col("rk_trunc") == 1)),
                             F.lit(False)).alias("top1_same")))


# ---------------------------------------------------------------------------
# Code-vs-prose detection (pretraining corpus routing heuristic)
# ---------------------------------------------------------------------------

_CODE_SYM_PPM = 20000  # ≥2% code-ish symbol mass → route as code


@query("text_code_detect", oracle=f"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(LENGTH(text) AS BIGINT) AS n,
         CAST(LENGTH(text)
              - LENGTH(regexp_replace(text, '[{{}}()\\[\\];=<>]', '', 'g'))
              AS BIGINT) AS n_sym,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit
  FROM documents WHERE LENGTH(text) > 0)
SELECT doc_id, lang, n,
       CAST(n_sym * 1000000 // n AS BIGINT) AS sym_ppm,
       CAST(n_digit * 1000000 // n AS BIGINT) AS digit_ppm,
       (n_sym * 1000000 // n) >= {_CODE_SYM_PPM} AS is_code
FROM m
""")
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE DETECTION — the routing heuristic a pretraining
    pipeline applies before tokenization (code and prose want
    different tokenizers, dedup thresholds, and mixing weights):
    per-doc mass of code-ish symbols ({{}}()[];=<>) and digits, in
    integer PPM (length-difference trick: LENGTH(x) − LENGTH(strip) —
    both engines count occurrences identically, no regex-dialect
    drift beyond the shared character class), thresholded into an
    is_code flag. Pure scan→project→integer-arithmetic: stays inside
    whole-stage codegen, embarrassingly parallel, and the PPM shares
    are hash-exact by construction. The fixture corpus is prose, so
    the gate bites on the NEGATIVE class — flags, shares, and counts
    must all agree, not just the rare positives."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    n_sym = (n - F.length(F.regexp_replace(
        "text", r"[{}()\[\];=<>]", ""))).cast("long")
    n_digit = (n - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("long")
    m = (d.filter(F.length("text") > 0)
          .select("doc_id", "lang", n.alias("n"),
                  n_sym.alias("n_sym"), n_digit.alias("n_digit")))
    sym_ppm = F.expr("BIGINT(n_sym * 1000000 div n)")
    return m.select(
        "doc_id", "lang", "n",
        sym_ppm.alias("sym_ppm"),
        F.expr("BIGINT(n_digit * 1000000 div n)").alias("digit_ppm"),
        (sym_ppm >= _CODE_SYM_PPM).alias("is_code"))


# ---------------------------------------------------------------------------
# Exact weighted quantiles (cumulative-weight pick; Spark has no builtin)
# ---------------------------------------------------------------------------

@query("agg_weighted_quantile", oracle="""
WITH w AS (
  SELECT event_type, value,
         CAST(user_id % 5 + 1 AS BIGINT) AS wt
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
g AS (SELECT event_type, value, CAST(SUM(wt) AS BIGINT) AS wv
      FROM w GROUP BY event_type, value),
c AS (
  SELECT event_type, value, wv,
         CAST(SUM(wv) OVER (PARTITION BY event_type ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumw,
         CAST(SUM(wv) OVER (PARTITION BY event_type) AS BIGINT) AS totw
  FROM g)
SELECT event_type,
       CAST(MAX(totw) AS BIGINT) AS total_weight,
       MIN(CASE WHEN 2 * cumw >= totw THEN value END) AS w_median,
       MIN(CASE WHEN 10 * cumw >= 9 * totw THEN value END) AS w_p90
FROM c GROUP BY event_type
""")
def agg_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED QUANTILES per group — the primitive Spark has no
    builtin for (percentile() weighs rows equally; production wants
    importance-, duration-, or count-weighted medians): sort the
    distinct values, window-cumsum the integer weights, and pick the
    first value whose cumulative weight crosses q·W (the weighted
    lower-median convention, a VALUE from the data — hash-exact, no
    interpolation). The threshold compare is integer-only
    (2·cumw ≥ totw, 10·cumw ≥ 9·totw) so no float division touches
    the pick. Scalable shape: pre-aggregate per (group, value) — the
    tie groups — so the window runs over distinct values, never raw
    rows; shuffles on (group, value) then group, the Mann-Whitney
    construction reused for quantiles. Weights here derive
    deterministically from user_id (the fixture carries no weight
    column); swap in any integer weight expression."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    w = (ev.filter(v.isNotNull() & ~F.isnan(v))
           .select("event_type", "value",
                   (F.col("user_id") % 5 + 1).cast("long").alias("wt")))
    g = w.groupBy("event_type", "value").agg(F.sum("wt").alias("wv"))
    wc = (W.partitionBy("event_type").orderBy("value")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy("event_type")
    c = (g.withColumn("cumw", F.sum("wv").over(wc))
          .withColumn("totw", F.sum("wv").over(wall)))
    med = F.when(2 * F.col("cumw") >= F.col("totw"), F.col("value"))
    p90 = F.when(10 * F.col("cumw") >= 9 * F.col("totw"), F.col("value"))
    return (c.groupBy("event_type")
             .agg(F.max("totw").alias("total_weight"),
                  F.min(med).alias("w_median"),
                  F.min(p90).alias("w_p90")))


# ---------------------------------------------------------------------------
# Duplicated n-gram share per document (cross-doc duplicate mass signal)
# ---------------------------------------------------------------------------

_DUPGRAM_N = 5  # 5-gram shingles — the FineWeb-style dup-mass granularity


@query("text_dup_ngram_share", oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(1, len(ts) - {_DUPGRAM_N - 1})),
             i -> md5(array_to_string(ts[i:i+{_DUPGRAM_N - 1}], ' ')))) AS h
  FROM tok),
df AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS ndocs FROM sh GROUP BY h)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS dup_share_ppm
FROM sh JOIN df USING (h)
GROUP BY sh.doc_id
""")
def text_dup_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATED N-GRAM SHARE per document — the cross-document
    duplicate-mass quality signal (the FineWeb/RefinedWeb
    'fraction of duplicated n-grams' metric): what share of a doc's
    distinct {_DUPGRAM_N}-gram shingles also appear in ANY other
    document? Distinct from text_repetition_filter (within-doc
    repetition) and text_contamination_ngram (vs an eval set) — this
    is the corpus-internal near-dup mass that survives exact dedup
    and predicts low-value boilerplate. Shape: one shingle pass,
    digest-keyed (md5 — uniform, unskewable) df count, join-back,
    integer PPM share. At 100 TB the df table is the only shuffle
    beyond the shingle explode, and the ndocs>=2 flag needs no
    ordering — pure map-side-combinable counts. Docs shorter than
    {_DUPGRAM_N} tokens contribute their single truncated shingle,
    so every doc appears in the output (no silent drops)."""
    d = load_table(spark, sf_dir, "documents")
    n_sh = F.greatest(F.lit(1), F.size("ts") - (_DUPGRAM_N - 1))
    sh = (d.select("doc_id", F.split(F.col("text"), " ").alias("ts"))
           .select("doc_id",
                   F.explode(F.transform(
                       F.sequence(F.lit(1), n_sh),
                       lambda i: F.md5(F.concat_ws(
                           " ", F.slice("ts", i, _DUPGRAM_N)))))
                    .alias("h"))
           .distinct())
    df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    dup = F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
    return (sh.join(df, "h")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   dup.alias("n_dup_grams"),
                   F.expr(
                       "BIGINT(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)"
                       " * 1000000 div COUNT(*))").alias("dup_share_ppm")))


# ---------------------------------------------------------------------------
# Streaming incremental MV maintenance (foreachBatch partial-merge)
# ---------------------------------------------------------------------------

@query("stream_incremental_mv", oracle=f"""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders GROUP BY o_custkey
""")
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental materialized-view maintenance (§2.10 twin
    of maintain_incremental_agg): 4 sequential micro-batches, each
    merged into a versioned per-customer state table by foreachBatch —
    prev ∪ batch partials → re-agg, decimal partials parquet-round-
    tripped between batches so no float re-accumulation occurs. The
    oracle is the one-shot full recompute; equality proves offset
    bookkeeping, partial mergeability, AND the decimal-exact contract
    survive micro-batch replay. Implementation in
    streaming/runner.py:run_incremental_mv."""
    from ..streaming import runner

    orders = load_table(spark, sf_dir, "orders")
    return runner.run_incremental_mv(spark, orders)


# ---------------------------------------------------------------------------
# Grid-bucketed spatial nearest join (bounded radius, bucket + refine)
# ---------------------------------------------------------------------------

_GRID = 50          # cell edge == search radius → 3×3 neighborhood exact
_GRID_R2 = _GRID * _GRID


@query("join_spatial_grid", oracle=f"""
WITH pts AS (
  SELECT c_custkey AS cid,
         CAST(c_custkey * 37 % 1000 AS BIGINT) AS x,
         CAST(c_custkey * 91 % 1000 AS BIGINT) AS y
  FROM customer),
qs AS (
  SELECT s_suppkey AS qid,
         CAST(s_suppkey * 53 % 1000 AS BIGINT) AS qx,
         CAST(s_suppkey * 71 % 1000 AS BIGINT) AS qy
  FROM supplier),
cand AS (
  SELECT qid, cid,
         (qx - x) * (qx - x) + (qy - y) * (qy - y) AS d2
  FROM qs JOIN pts
    ON abs(qx // {_GRID} - x // {_GRID}) <= 1
   AND abs(qy // {_GRID} - y // {_GRID}) <= 1
  WHERE (qx - x) * (qx - x) + (qy - y) * (qy - y) <= {_GRID_R2}),
r AS (SELECT qid, cid, CAST(d2 AS BIGINT) AS d2,
             row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
      FROM cand)
SELECT qid, cid AS nearest_cid, d2 FROM r WHERE rn = 1
""")
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED SPATIAL NEAREST JOIN — the bucket-then-refine
    shape every geo/embedding-space join uses at scale: points land
    in {_GRID}-unit grid cells, each query probes only its 3×3 cell
    neighborhood (cell edge == search radius {_GRID}, so any neighbor
    within the radius is AT MOST one cell away — the correctness
    proof of the blocking), and the exact integer squared distance
    re-ranks candidates with a (d2, cid) total-order tiebreak.
    Bounded-radius semantics (no match within {_GRID} → no row) is
    the honest contract blocking can guarantee; coordinates derive
    deterministically from the fixture keys (integer lattice — dist²
    is exact integer arithmetic, hash-stable). Spark side joins on
    the EXPLODED 9-cell probe list (equi-join on cell id — shuffles
    on a uniform key) rather than the oracle's |Δcell|≤1 theta form:
    same semantics, but the equi-join scales (the theta form would
    BNLJ). At 100 TB: cells are the partition key; density skew is
    handled like any hot key — split cells or salt."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pts = cust.select(
        F.col("c_custkey").alias("cid"),
        (F.col("c_custkey") * 37 % 1000).cast("long").alias("x"),
        (F.col("c_custkey") * 91 % 1000).cast("long").alias("y"))
    pts = pts.withColumn(
        "cell", F.concat_ws(":", F.expr(f"x div {_GRID}"),
                            F.expr(f"y div {_GRID}")))
    qs = supp.select(
        F.col("s_suppkey").alias("qid"),
        (F.col("s_suppkey") * 53 % 1000).cast("long").alias("qx"),
        (F.col("s_suppkey") * 71 % 1000).cast("long").alias("qy"))
    probe = qs.select(
        "qid", "qx", "qy",
        F.explode(F.expr(
            f"flatten(transform(sequence(-1, 1), dx -> "
            f"transform(sequence(-1, 1), dy -> "
            f"concat_ws(':', qx div {_GRID} + dx, qy div {_GRID} + dy))))"
        )).alias("cell"))
    d2 = ((F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x"))
          + (F.col("qy") - F.col("y")) * (F.col("qy") - F.col("y")))
    cand = (probe.join(pts, "cell")
                 .withColumn("d2", d2.cast("long"))
                 .filter(F.col("d2") <= _GRID_R2))
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy("d2", "cid"))
    return (cand.withColumn("rn", rn).filter(F.col("rn") == 1)
                .select("qid", F.col("cid").alias("nearest_cid"), "d2"))


# ---------------------------------------------------------------------------
# Exact-substring decontamination (strictest eval-leak membership test)
# ---------------------------------------------------------------------------

_SUB_LEN = 40  # verbatim eval snippet length
# Eval-set cap: an eval benchmark is bounded by CONTRACT (fixed suite
# size), not by hoping the %250 sample stays small — deterministic
# (ORDER BY doc_id) top-N above every fixture's snippet count (max 200
# at the 50k-doc blow-up) so it never binds locally, while making the
# broadcast side's bound mechanical for tools/scan_broadcast_hints.py.
_EVAL_CAP = 256


@query("text_decontaminate_substring", oracle=f"""
WITH ev AS (
  SELECT doc_id AS eval_id,
         substr(text, 21, {_SUB_LEN}) AS snippet
  FROM documents
  WHERE doc_id % 250 = 0 AND LENGTH(text) >= 20 + {_SUB_LEN}
  ORDER BY doc_id LIMIT {_EVAL_CAP}),
hits AS (
  SELECT d.doc_id, COUNT(*) AS n_hits
  FROM documents d JOIN ev ON contains(d.text, ev.snippet)
  GROUP BY d.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
""")
def text_decontaminate_substring(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING DECONTAMINATION — the STRICTEST eval-leak test,
    completing the three-level family: data_decontaminate catches
    whole-document digest equality, text_contamination_ngram catches
    shingle overlap, and THIS catches a verbatim {_SUB_LEN}-char eval
    snippet quoted ANYWHERE inside a training doc (the form benchmark
    answers actually leak in). Eval snippets derive deterministically
    from every 250th doc's text (so planted positives exist: each
    snippet's own SOURCE doc counts as a hit — real eval/train are
    different tables, so self-exclusion is artificial, and keeping it
    makes the positive class non-empty at EVERY scale; at the 50k-doc
    blow-up the near-duplicate replicas add 1,983 true cross-doc
    hits, hash-matched). Shape: the snippet table is tiny and
    BROADCAST — the corpus never shuffles; each doc runs |evals|
    contains() probes inside codegen (at real scale, compile the
    snippet set into one Aho-Corasick pass via a mapInPandas kernel —
    the plumbing is this same broadcast+scan). Every doc is emitted
    with its hit count (negatives included — no vacuous-empty
    oracle)."""
    d = load_table(spark, sf_dir, "documents")
    ev = (d.filter((F.col("doc_id") % 250 == 0)
                   & (F.length("text") >= 20 + _SUB_LEN))
           .orderBy("doc_id").limit(_EVAL_CAP)
           .select(F.col("doc_id").alias("eval_id"),
                   F.substring("text", 21, _SUB_LEN).alias("snippet")))
    hits = (d.join(F.broadcast(ev),
                   F.contains(F.col("text"), F.col("snippet")))
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_hits")))
    return (d.join(hits, "doc_id", "left")
             .select("doc_id",
                     F.coalesce("n_hits", F.lit(0)).cast("long")
                      .alias("n_hits"),
                     (F.coalesce("n_hits", F.lit(0)) > 0)
                      .alias("contaminated")))


# ---------------------------------------------------------------------------
# Scalable exact percentile: histogram-bin pass + tiny exact refine
# ---------------------------------------------------------------------------

_PCT_BINS = 1000


@query("agg_percentile_exact_scalable", oracle="""
WITH v AS (SELECT event_type, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
r AS (SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN 2 * rn >= n THEN value END) AS median,
       MIN(CASE WHEN 100 * rn >= 99 * n THEN value END) AS p99
FROM r GROUP BY event_type
""")
def agg_percentile_exact_scalable(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """SCALABLE EXACT PERCENTILE — the two-pass algorithm that
    computes an EXACT median/p99 at 100 TB without ever sorting or
    collecting the column (Spark's exact percentile() materializes
    the group's values; this never holds more than a bin's worth):
    PASS 1 bins values into 1000 equi-width buckets per group and
    cumulative-sums the bin counts to locate the bucket containing
    the target rank; PASS 2 re-scans ONLY that bucket's values (a
    ~1/1000 sliver, filter pushed to the scan) and picks the exact
    rank-th value by per-group rank. The oracle is the naive global
    sort — equality proves the two-pass refinement IS the exact
    lower-quantile (rank ⌈qN⌉, a value from the data, hash-exact).
    Both passes are plain aggregates/filters: map-side-combinable,
    no window over raw rows in pass 1, and pass 2's candidate set is
    bounded by the densest bin, not the group size."""
    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
           .select("event_type", "value"))
    # pass 0: per-group min/max + n (one agg) — defines the bin grid
    g = (v.groupBy("event_type")
          .agg(F.min("value").alias("lo"), F.max("value").alias("hi"),
               F.count(F.lit(1)).alias("n")))
    vg = v.join(F.broadcast(g), "event_type")
    binw = (F.col("hi") - F.col("lo")) / _PCT_BINS
    bin_ = F.least(F.lit(_PCT_BINS - 1),
                   F.floor((F.col("value") - F.col("lo")) / binw)
                    .cast("long"))
    binned = vg.withColumn(
        "bin", F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(bin_))
    # pass 1: bin histogram + cumulative counts locate target bins
    hist = (binned.groupBy("event_type", "bin")
                  .agg(F.count(F.lit(1)).alias("c")))
    wcum = (W.partitionBy("event_type").orderBy("bin")
             .rowsBetween(W.unboundedPreceding, -1))
    cum = (hist.withColumn("before", F.coalesce(F.sum("c").over(wcum),
                                                F.lit(0)))
               .join(F.broadcast(g.select("event_type", "n")), "event_type"))
    targets = []
    for name, num, den in (("median", 1, 2), ("p99", 99, 100)):
        rank = F.ceil(F.col("n") * num / den).cast("long")
        tb = (cum.filter((F.col("before") < rank)
                         & (F.col("before") + F.col("c") >= rank))
                 .select("event_type", F.col("bin").alias("tbin"),
                         (rank - F.col("before")).alias("krank")))
        # pass 2: exact k-th value INSIDE the one target bin per group
        b2 = binned.select(F.col("event_type").alias("et"),
                           F.col("bin").alias("b2bin"), "value")
        cand = (b2.join(F.broadcast(tb),
                        (b2.et == tb.event_type) & (b2.b2bin == tb.tbin))
                  .select("et", "value", "krank"))
        wr = W.partitionBy("et").orderBy("value")
        picked = (cand.withColumn("rn", F.row_number().over(wr))
                      .filter(F.col("rn") == F.col("krank"))
                      .select(F.col("et").alias("event_type"),
                              F.col("value").alias(name)))
        targets.append(picked)
    out = g.select("event_type", F.col("n").cast("long").alias("n"))
    for t in targets:
        out = out.join(t, "event_type")
    return out


# ---------------------------------------------------------------------------
# Deterministic class rebalancing (cap the majority classes)
# ---------------------------------------------------------------------------

_BAL_CAP = 400


@query("data_balanced_resample", oracle=f"""
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MIN(rk) AS BIGINT) AS min_rk,
       CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
FROM r WHERE rk <= {_BAL_CAP}
GROUP BY lang
""")
def data_balanced_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC CLASS REBALANCING — cap every class (language) at
    {_BAL_CAP} docs by keeping the lowest-{_BAL_CAP} rows under a
    HASH-derived ranking (md5 of the id: a fixed random-but-seedless
    permutation, so the kept set is reproducible across runs, engines,
    and cluster sizes — the RNG-free house substitute for
    sampleBy-style class downsampling, which would differ per
    execution). Minority classes below the cap pass through whole —
    exactly the majority-downsampling used to de-bias a training mix.
    The summary emitted (count + kept-id checksum per class) pins the
    EXACT membership of the kept set, not just its size. Shape: one
    shuffle on the class key for the rank window; at 100 TB prefer
    the two-pass variant when classes exceed one partition's memory —
    histogram hash-prefixes, find the cap's prefix threshold, filter
    (the agg_percentile_exact_scalable construction applied to
    ranks)."""
    d = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"))
    kept = (d.select("doc_id", "lang").withColumn("rk", rk)
             .filter(F.col("rk") <= _BAL_CAP))
    return (kept.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.min("rk").cast("long").alias("min_rk"),
                     F.sum("doc_id").alias("kept_id_sum")))


# ---------------------------------------------------------------------------
# Spark 4 SQL surface: session variables / EXECUTE IMMEDIATE / scripting
# ---------------------------------------------------------------------------

@query("sql_session_variables", oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority
""")
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION VARIABLES (Spark 4 `DECLARE VARIABLE` / `SET VAR`) —
    the parameterization surface that replaces string-pasted literals
    in orchestrated SQL: a threshold is declared once per session,
    set, and referenced by NAME inside the query text (constant-folded
    by Catalyst at plan time, so pushdown sees the literal). The
    oracle inlines the same literal — equality proves variable
    resolution is semantically invisible. DECLARE OR REPLACE keeps
    the op idempotent in a shared session."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE sg_price_thr DOUBLE "
              "DEFAULT 0.0")
    spark.sql("SET VAR sg_price_thr = 150000.0")
    return spark.sql(f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               {dsum_sql('o_totalprice')} AS total_price
        FROM orders WHERE o_totalprice > sg_price_thr
        GROUP BY o_orderpriority""")


@query("sql_execute_immediate", oracle=f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders
WHERE o_orderdate >= CAST('1997-06-01' AS DATE)
GROUP BY o_orderstatus
""")
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL) with a USING parameter
    — the safe form of runtime-assembled queries (the parameter rides
    a bind marker, never string concatenation: no injection surface,
    and the plan caches by template). The oracle runs the same query
    with the parameter inlined; equality proves the bind path changes
    nothing semantically. The statement text itself stays a constant
    — only the cutoff date is late-bound."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE) "
        "AS total_price "
        "FROM orders WHERE o_orderdate >= CAST(? AS DATE) "
        "GROUP BY o_orderstatus' "
        "USING '1997-06-01'")


@query("sql_scripting_loop", oracle="""
WITH i AS (SELECT unnest(generate_series(1, 7)) AS k)
SELECT CAST(SUM(c) AS BIGINT) AS total
FROM (SELECT k, (SELECT COUNT(*) FROM orders WHERE o_orderkey % k = 0)
              AS c
      FROM i)
""")
def sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 BEGIN…END procedural blocks): a WHILE
    loop with declared local variables accumulates Σ_{k=1..7}
    count(orders where orderkey % k = 0) — control flow lives in the
    SQL layer itself (the orchestration-free form of driver-side
    loops; each iteration is still a full distributed query). The
    oracle computes the same total set-wise with a correlated
    subquery over the k series, so the gate proves the procedural and
    relational forms agree. Scripting is gated behind its conf, set
    and restored around the block."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql("""
            BEGIN
              DECLARE total BIGINT DEFAULT 0;
              DECLARE k INT DEFAULT 1;
              WHILE k <= 7 DO
                SET total = total +
                    (SELECT COUNT(*) FROM orders WHERE o_orderkey % k = 0);
                SET k = k + 1;
              END WHILE;
              SELECT total;
            END""").toDF("total")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4.1 WITH RECURSIVE) — hierarchy closure
# ---------------------------------------------------------------------------

_RCTE_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT node, CAST(FLOOR(cur / 10) AS BIGINT) AS cur, depth + 1
  FROM anc WHERE cur >= 10)
SELECT node,
       CAST(MAX(depth) AS BIGINT) AS depth,
       CAST(MIN(CASE WHEN cur < 10 THEN cur END) AS BIGINT) AS root
FROM anc GROUP BY node
"""


@query("sql_recursive_cte", oracle=_RCTE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4.1 `WITH RECURSIVE`) — the LITERALLY
    identical ANSI text runs on both engines (the sql_tpch_q1
    dialect-pin pattern applied to recursion): every customer walks
    its decimal-digit ancestor chain (parent = ⌊k/10⌋, a synthetic
    but data-driven hierarchy with depth = digit count) to its
    single-digit root, emitting per-node depth and root. Termination
    is structural (cur strictly shrinks; recursion depth = max key
    width ≈ 7). Engine-level recursion replaces the driver-looped
    iterate-until-fixpoint pattern (graph_bfs_levels,
    dedup_cluster_cc) for hierarchy walks whose depth is small and
    uniform — each iteration is one distributed join, planned inside
    ONE query. Integer step via CAST(FLOOR(x/10)) because Spark '/'
    is double division and a bare CAST would round half-even in
    DuckDB — FLOOR pins truncation on both."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql(_RCTE_SQL)


# ---------------------------------------------------------------------------
# Same-text SQL surface: LATERAL correlated join, GROUP BY ALL
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_mktsegment, o.o_orderkey, l.top_price
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey,
LATERAL (SELECT MAX(o2.o_totalprice) AS top_price
         FROM orders o2 WHERE o2.o_custkey = c.c_custkey) l
WHERE o.o_totalprice = l.top_price
"""


@query("sql_lateral_join", oracle=_LATERAL_SQL)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table — one identical ANSI text on
    both engines: for each customer, the LATERAL subquery computes
    their max order price and the outer predicate keeps exactly the
    argmax order rows (ties keep both — deterministic set either
    way). Catalyst DE-CORRELATES the lateral into an aggregate +
    join (no per-row re-execution — the plan the 100 TB run needs);
    the dialect pin matters because LATERAL is the standard way
    analysts express per-row top-N intent before an optimizer
    rewrites it."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_GBA_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_GBA_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the DuckDB-pioneered, Spark-4-adopted shorthand
    that infers grouping keys from the non-aggregate select items;
    one identical text on both engines pins that BOTH infer the same
    key set (a silent divergence here would corrupt every downstream
    rollup). Semantically identical plan to the explicit GROUP BY —
    pure dialect surface."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql(_GBA_SQL)


# ---------------------------------------------------------------------------
# Observation metrics / pandas-on-Spark / named params / collations
# ---------------------------------------------------------------------------

@query("api_observe_metrics", oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted,
       {dsum_sql('l_extendedprice')} AS total_price
FROM lineitem
""")
def api_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBSERVATION METRICS (`df.observe`) — Spark's built-in
    data-quality instrumentation: named aggregate metrics piggyback
    on a pass that is ALREADY running (here a noop materialization;
    in production, the write job), costing zero extra scans — the
    mechanism behind row-count/violation-count monitors on 100 TB
    loads. The observed metrics are returned as a one-row DataFrame
    and the oracle recomputes them as plain aggregates — equality
    proves the observation channel reports exactly what a dedicated
    aggregation would. The decimal-exact sum rides the same contract
    as everywhere else (metrics that drift per run are worse than no
    metrics)."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("load_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
         .alias("n_discounted"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
         .alias("total_price"))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["n_discounted"]),
          float(m["total_price"]))],
        "n_rows long, n_discounted long, total_price double")


@query("api_pandas_on_spark", oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
""")
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS API ON SPARK (`pyspark.pandas`) — the drop-in pandas
    dialect data scientists port notebooks through: the same grouped
    aggregation expressed as `psdf.groupby(...).agg(...)` and handed
    back to SQL land via `to_spark()`. The oracle is the plain SQL
    twin — equality pins that the pandas-dialect lowering produces
    the same distributed plan semantics (integer count + sum: exact
    in any fold order, so the API surface is tested without a float
    wobble). One groupBy shuffle, same as the native form."""
    import pyspark.pandas as ps

    ev = load_table(spark, sf_dir, "events")
    psdf = ev.select("event_type", "event_id").pandas_api()
    out = (psdf.groupby("event_type", as_index=False)
                .agg(n=("event_id", "count"), id_sum=("event_id", "sum")))
    sdf = out.to_spark()
    return sdf.select("event_type",
                      F.col("n").cast("long").alias("n"),
                      F.col("id_sum").cast("long").alias("id_sum"))


@query("sql_named_parameters", oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_totalprice BETWEEN 100000.0 AND 200000.0
GROUP BY o_orderpriority
""")
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED PARAMETER MARKERS (`spark.sql(..., args={{...}})`) — the
    API-level bind-parameter path next to EXECUTE IMMEDIATE's SQL-
    level one: `:lo`/`:hi` markers resolve from a python dict, never
    via string interpolation (no injection, no quoting bugs, plan
    cached by template). Oracle inlines the same literals — the bind
    path is semantically invisible."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders "
        "FROM orders WHERE o_totalprice BETWEEN :lo AND :hi "
        "GROUP BY o_orderpriority",
        args={"lo": 100000.0, "hi": 200000.0})


@query("str_collation_groupby", oracle="""
WITH k AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
              ELSE lower(o_orderpriority) END AS pri
  FROM orders)
SELECT lower(pri) AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM k GROUP BY lower(pri)
""")
def str_collation_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATION-AWARE GROUPING (Spark 4 `COLLATE UTF8_LCASE`) — the
    engine-level answer to case-divergent keys (mixed-case priorities
    synthesized from the fixture): grouping on a case-insensitive
    COLLATED column merges 'URGENT' and 'urgent' WITHOUT rewriting
    every expression through lower() — comparisons, joins, and
    DISTINCT all follow the declared collation. The oracle is the
    lower()-normalized twin (DuckDB's collation surface differs in
    spelling, so the PIN is semantic: collated grouping ≡ normalized
    grouping); the emitted key is lowercased on both sides for a
    canonical hash."""
    o = load_table(spark, sf_dir, "orders")
    pri = F.when(F.col("o_orderkey") % 2 == 0,
                 F.upper("o_orderpriority")) \
           .otherwise(F.lower("o_orderpriority"))
    k = o.select(F.expr(
        "CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority) "
        "ELSE lower(o_orderpriority) END COLLATE UTF8_LCASE").alias("pri"))
    return (k.groupBy("pri")
             .agg(F.count(F.lit(1)).alias("n_orders"))
             .select(F.lower(F.col("pri").cast("string"))
                      .alias("priority"), "n_orders"))


# ---------------------------------------------------------------------------
# Rolling skewness / kurtosis (distribution-shape drift over a window)
# ---------------------------------------------------------------------------

_RSK_W = 100  # trailing rows


def _wsum_sql(expr: str) -> str:
    """Windowed decimal-exact sum with STRING-routed casts on BOTH
    boundaries (a stronger contract than dsum: the frame's power sums
    exceed 16 significant digits at 12-dp scale, so the direct
    DECIMAL→DOUBLE cast ALSO diverges cross-engine — observed on a
    single-row frame: x³ at 17 digits came back one ulp apart. A
    decimal printed to its exact digit string and re-parsed is
    correctly rounded on both engines (Java parseDouble and C strtod
    are both required-correct), which the direct casts are not)."""
    return (f"CAST(CAST(SUM(CAST(CAST(({expr}) AS STRING)"
            f" AS DECIMAL(38,12))) OVER win AS STRING) AS DOUBLE)")


@query("win_rolling_skew_kurt", oracle=f"""
WITH v AS (
  SELECT user_id, event_id, ts, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    AND (value = 0 OR abs(value) >= 0.001)),
p AS (
  SELECT user_id, event_id,
         CAST(COUNT(value) OVER win AS DOUBLE) AS n,
         {_wsum_sql('value')} AS s1,
         {_wsum_sql('value*value')} AS s2,
         {_wsum_sql('value*value*value')} AS s3,
         {_wsum_sql('value*value*value*value')} AS s4
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_RSK_W - 1} PRECEDING AND CURRENT ROW)),
m AS (
  SELECT user_id, event_id, n,
         s1 / n AS m1,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n)
           * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n)
           * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
           AS m4
  FROM p)
SELECT user_id, event_id, CAST(n AS BIGINT) AS n_window,
       {r6_sql('CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END')}
         AS roll_skew,
       {r6_sql('CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END')}
         AS roll_kurt
FROM m
""")
def win_rolling_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING SKEWNESS + EXCESS KURTOSIS over a trailing {_RSK_W}-row
    frame per user — the distribution-SHAPE drift monitor beyond the
    rolling mean/std pair (win_anomaly_zscore): a fattening tail or
    growing asymmetry announces regime change before the mean moves.
    Construction: four windowed DECIMAL-exact power sums (one Sort +
    one frame evaluation serves all four — Spark computes them in one
    window stage), central moments via the power-sum identities in
    scalar double arithmetic (deterministic on identical inputs), and
    m2^1.5 as m2·sqrt(m2) — POWER() is libm exp/ln and drifts
    cross-engine; multiply+sqrt are IEEE-exact. Degenerate windows
    (m2 ≤ 0: constant values) yield NULL per the house NULL-feature
    policy. One (user) exchange; emits every row at 100 TB — thin the
    output downstream, not the computation."""
    ev = load_table(spark, sf_dir, "events")
    val = F.col("value")
    # Domain guard (ADVICE r5): the highest power routed through
    # DECIMAL(38,12) is value^4, so |value| must stay ≥ 1e-3 (or be
    # exactly 0) for the per-row quantum 1e-12 to hold — below that,
    # Spark's HALF_UP and DuckDB's HALF_EVEN round the string-cast
    # differently (the documented out-of-domain regime of dsum_dec,
    # functions/exact.py). Identical filter text in the oracle.
    v = (ev.filter(val.isNotNull() & ~F.isnan(val)
                   & ((val == 0) | (F.abs(val) >= 0.001)))
           .select("user_id", "event_id", "ts", "value"))
    # Round 12 (guide §1.2): the four {_RSK_W}-row trailing decimal
    # sums were O(n·W) per partition (Spark re-aggregates a bounded
    # sliding frame from scratch every row — 67.7 s on the 200k-row
    # fat-partition fixture); the prefix-difference form in
    # functions/rollfast.py is O(n) and EXACTLY equal in decimal
    # arithmetic (same per-element string-routed casts, telescoping
    # subtraction, identical all-NULL-frame semantics). The oracle
    # keeps the windowed SQL, so equivalence is hash-checked.
    x = F.col("value")

    def d(e):
        return e.cast("string").cast(DEC)

    from ..functions.rollfast import trailing_agg
    pa = trailing_agg(
        v, ["user_id"], ["ts", "event_id"], (-(_RSK_W - 1), 0),
        sums={"s1d": d(x), "s2d": d(x * x),
              "s3d": d(x * x * x), "s4d": d(x * x * x * x)},
        counts={"nl": x})
    p = pa.select(
        "user_id", "event_id",
        F.col("nl").cast("double").alias("n"),
        *[F.col(f"s{i}d").cast("string").cast("double").alias(f"s{i}")
          for i in (1, 2, 3, 4)])
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m1 = s1 / n
    m2 = s2 / n - m1 * m1
    m3 = s3 / n - 3 * m1 * (s2 / n) + 2 * m1 * m1 * m1
    m4 = (s4 / n - 4 * m1 * (s3 / n) + 6 * m1 * m1 * (s2 / n)
          - 3 * m1 * m1 * m1 * m1)
    from ..functions.exact import r6
    return p.select(
        "user_id", "event_id", n.cast("long").alias("n_window"),
        r6(F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))).alias("roll_skew"),
        r6(F.when(m2 > 0, m4 / (m2 * m2) - 3.0)).alias("roll_kurt"))


# ---------------------------------------------------------------------------
# Training-shard manifest (WebDataset-style packaging index)
# ---------------------------------------------------------------------------

_SHARD_DOCS = 100  # docs per shard


@query("data_shard_manifest", oracle=f"""
WITH g AS (
  SELECT doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
           AS global_idx
  FROM documents)
SELECT CAST(global_idx // {_SHARD_DOCS} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS member_digest
FROM g GROUP BY shard_id
""")
def data_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD MANIFEST — the WebDataset-style packaging index
    a loader consumes: contiguous doc ranges of {_SHARD_DOCS} docs per
    shard (global index ÷ size — ranges, not hashes, so sequential
    readers stream each shard with zero seeks), with per-shard counts,
    boundary ids, byte-proxy totals, and an ORDER-PINNED member
    digest (md5 of the comma-joined id list in doc order) that makes
    the manifest verifiable: a loader can prove it read exactly the
    intended members in the intended order. The global index IS the
    scalable two-pass construction (data_global_index pattern —
    round 9 removed the fixture-scale global-window shortcut); the
    oracle's naive global window pins the equivalence. One
    range-shuffle for the index, one tiny shard rollup."""
    d = load_table(spark, sf_dir, "documents")
    # two-pass range-partitioned global index (data_global_index
    # pattern, round 9) — no raw-row global window: range-sort on
    # doc_id, per-partition counts → broadcast prefix offsets,
    # intra-partition rank + offset = exact contiguous 0..N-1
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    r = (d.select("doc_id", "n_chars")
          .repartitionByRange(n_parts, "doc_id")
          .withColumn("pid", F.spark_partition_id())
          .cache())
    counts = r.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
    w_in = W.partitionBy("pid").orderBy("doc_id")
    g = (r.join(F.broadcast(offsets.select("pid", "offset")), "pid")
          .select("doc_id", "n_chars",
                  (F.col("offset") + F.row_number().over(w_in) - 1)
                  .cast("long").alias("global_idx")))
    sid = F.expr(f"BIGINT(global_idx div {_SHARD_DOCS})")
    return (g.groupBy(sid.alias("shard_id"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("doc_id").alias("first_doc"),
                  F.max("doc_id").alias("last_doc"),
                  F.sum("n_chars").alias("total_chars"),
                  F.md5(F.concat_ws(",", F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("doc_id"))),
                      lambda s: s["doc_id"].cast("string"))))
                   .alias("member_digest")))


# ---------------------------------------------------------------------------
# Edit-distance near-dup (Levenshtein, PassJoin segment blocking)
# ---------------------------------------------------------------------------

_ED_HEAD = 24   # normalized head length
_ED_MAX = 3     # edit-distance threshold
_ED_SEG = 6     # 4 segments of 6 chars (k+1 segments for k=3 edits)


@query("dedup_edit_distance", oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         substr(lower(trim(text)), 1, {_ED_HEAD}) AS head
  FROM documents
  WHERE LENGTH(trim(text)) >= {_ED_HEAD}),
segs AS (  -- each head's 4 aligned segments (the indexed side)
  SELECT doc_id, lang, head, i,
         substr(head, 1 + i * {_ED_SEG}, {_ED_SEG}) AS seg
  FROM h, (SELECT unnest(generate_series(0, 3)) AS i)),
probes AS (  -- other side: same-length substrings within ±{_ED_MAX} shift
  SELECT doc_id, lang, head, i,
         substr(head, 1 + i * {_ED_SEG} + d, {_ED_SEG}) AS seg
  FROM h, (SELECT unnest(generate_series(0, 3)) AS i),
       (SELECT unnest(generate_series(-{_ED_MAX}, {_ED_MAX})) AS d)
  WHERE 1 + i * {_ED_SEG} + d >= 1),
cand AS (
  SELECT DISTINCT s.doc_id AS a, p.doc_id AS b,
         s.head AS ha, p.head AS hb
  FROM segs s JOIN probes p
    ON s.lang = p.lang AND s.i = p.i AND s.seg = p.seg
   AND s.doc_id < p.doc_id)
SELECT a, b, CAST(levenshtein(ha, hb) AS BIGINT) AS dist
FROM cand WHERE levenshtein(ha, hb) <= {_ED_MAX}
""")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE NEAR-DUP over normalized {_ED_HEAD}-char document
    heads — the fuzzy-matching family member shingle methods miss
    (typos, OCR flips, punctuation variants land at Levenshtein ≤
    {_ED_MAX} while sharing few 3-gram shingles), with PASSJOIN
    segment blocking instead of an all-pairs scan: split each head
    into k+1 = 4 aligned segments; if lev(a,b) ≤ k then at least one
    of a's segments appears VERBATIM in b within ±k positions of its
    home offset (pigeonhole over the ≤k edit operations — the
    PassJoin completeness lemma), so candidates come from an
    EQUI-JOIN on (lang, segment-index, segment-content) between the
    4-segment index side and the 28-probe side, then exact
    Levenshtein (integer DP, loss-free on both engines) verifies.
    The first cut's length-band blocking collapsed to all-pairs on
    a corpus of near-identical heads (250M candidates at 50k docs);
    the segment join is driven by content keys, so duplicate
    families pay |family|², never the corpus. Both engines run the
    SAME blocking, so the oracle also certifies candidate
    completeness by construction equality."""
    d = load_table(spark, sf_dir, "documents")
    h = (d.filter(F.length(F.trim("text")) >= _ED_HEAD)
          .select("doc_id", "lang",
                  F.substring(F.lower(F.trim("text")), 1, _ED_HEAD)
                   .alias("head")))
    seg_i = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    segs = (h.select("doc_id", "lang", "head", seg_i)
             .select("doc_id", "lang", "head", "i",
                     F.expr(f"substring(head, 1 + i * {_ED_SEG}, "
                            f"{_ED_SEG})").alias("seg")))
    probes = (h.select("doc_id", "lang", "head", seg_i)
               .select("doc_id", "lang", "head", "i",
                       F.explode(F.sequence(F.lit(-_ED_MAX),
                                            F.lit(_ED_MAX))).alias("dd"))
               .filter(F.expr(f"1 + i * {_ED_SEG} + dd") >= 1)
               .select("doc_id", "lang", "head", "i",
                       F.expr(f"substring(head, 1 + i * {_ED_SEG} + dd,"
                              f" {_ED_SEG})").alias("seg")))
    s_, p_ = segs.alias("s"), probes.alias("p")
    cand = (s_.join(p_, (F.col("s.lang") == F.col("p.lang"))
                    & (F.col("s.i") == F.col("p.i"))
                    & (F.col("s.seg") == F.col("p.seg"))
                    & (F.col("s.doc_id") < F.col("p.doc_id")))
              .select(F.col("s.doc_id").alias("a"),
                      F.col("p.doc_id").alias("b"),
                      F.col("s.head").alias("ha"),
                      F.col("p.head").alias("hb"))
              .distinct())
    dist = F.levenshtein(F.col("ha"), F.col("hb"))
    return (cand.withColumn("dist", dist.cast("long"))
                .filter(F.col("dist") <= _ED_MAX)
                .select("a", "b", "dist"))


# ---------------------------------------------------------------------------
# Pipe SQL syntax (Spark 4 |> operators)
# ---------------------------------------------------------------------------

@query("sql_pipe_syntax", oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE l_shipdate <= CAST('1998-09-01' AS DATE) AND l_discount > 0.02
GROUP BY l_returnflag
""")
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPE SQL SYNTAX (Spark 4 `|>` operators, the GoogleSQL-style
    linear query form): FROM … |> WHERE … |> EXTEND … |> AGGREGATE —
    each stage reads top-to-bottom in dataflow order instead of the
    inside-out nesting of classic SELECT. The oracle is the classic
    form of the same query; equality pins that the pipe parser lowers
    to identical semantics (same filters reach the scan, same
    decimal-exact aggregate). This is a PARSER surface — the plan is
    the plan either way."""
    from .q_round3 import _register_views

    _register_views(spark, sf_dir)
    return spark.sql("""
FROM lineitem
|> WHERE l_shipdate <= CAST('1998-09-01' AS DATE) AND l_discount > 0.02
|> EXTEND CAST(CAST(l_extendedprice * (1 - l_discount) AS STRING)
               AS STRING) AS _unused
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,12))) AS DOUBLE) AS revenue
   GROUP BY l_returnflag
|> SELECT l_returnflag, n_items, revenue
""")


# ---------------------------------------------------------------------------
# 1-D Kalman filter (state-space smoothing; Arrow kernel + recursive oracle)
# ---------------------------------------------------------------------------

_KAL_Q, _KAL_R, _KAL_P0 = 0.5, 4.0, 1.0


def _kalman_kernel(pdf):
    """Per-user scalar Kalman recursion (random-walk state model):
    predict p += q; gain k = p/(p+r); update x̂ += k(z − x̂);
    p = (1−k)p. Sequential by construction — a python loop over the
    group's numpy arrays inside one Arrow batch (the Holt pattern)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"])
    z = pdf["value"].to_numpy()
    xs = np.empty(len(z))
    ks = np.empty(len(z))
    if len(z):
        x, p = z[0], _KAL_P0
        xs[0], ks[0] = x, 0.0
        for i in range(1, len(z)):
            p = p + _KAL_Q
            k = p / (p + _KAL_R)
            x = x + k * (z[i] - x)
            p = (1.0 - k) * p
            xs[i], ks[i] = x, k
    return pd.DataFrame({
        "user_id": pdf["user_id"].to_numpy(),
        "event_id": pdf["event_id"].to_numpy(),
        "x_hat": xs,
        "gain": ks,
    })


_KALMAN_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS z,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
k AS (
  SELECT user_id, event_id, rn, z AS x_hat,
         CAST({_KAL_P0} AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS gain
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         k.x_hat + ((k.p + {_KAL_Q}) / ((k.p + {_KAL_Q}) + {_KAL_R}))
           * (b.z - k.x_hat) AS x_hat,
         (1.0 - ((k.p + {_KAL_Q}) / ((k.p + {_KAL_Q}) + {_KAL_R})))
           * (k.p + {_KAL_Q}) AS p,
         ((k.p + {_KAL_Q}) / ((k.p + {_KAL_Q}) + {_KAL_R})) AS gain
  FROM k JOIN base b ON b.user_id = k.user_id AND b.rn = k.rn + 1)
SELECT user_id, event_id, x_hat, gain FROM k
"""


@query("win_kalman_filter", oracle=_KALMAN_ORACLE)
def win_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER per user over event values (random-walk state
    model, fixed process/measurement noise) — the state-space smoother
    next to EWMA (fixed gain) and Holt (level+trend): the gain ADAPTS
    over the series as the error covariance converges, which is what
    production telemetry smoothing actually runs. Coupled (x̂, p)
    recursion with no closed form → the honest Arrow-kernel case
    (pre-selected 4 columns, one applyInPandas per user group), and
    the oracle is a DuckDB RECURSIVE CTE computing the identical
    recursion — every arithmetic step is IEEE +,·,/ in a FIXED order,
    so the emitted floats are bit-identical cross-engine and emitted
    UNROUNDED (the Holt house pattern). Gain sequence is emitted too:
    its convergence to the steady-state Riccati value is the
    filter-health signal dashboards track."""
    ev = load_table(spark, sf_dir, "events")
    val = F.col("value")
    return (ev.filter(val.isNotNull() & ~F.isnan(val))
              .select("user_id", "event_id", "ts", "value")
              .groupBy("user_id")
              .applyInPandas(_kalman_kernel,
                             "user_id long, event_id long, "
                             "x_hat double, gain double"))


# ---------------------------------------------------------------------------
# Dedup scorecard (every dedup level's yield on one corpus, one result)
# ---------------------------------------------------------------------------

@query("dedup_scorecard", oracle=f"""
WITH exact_d AS (
  SELECT COUNT(*) - COUNT(DISTINCT sha256(lower(trim(text)))) AS extra
  FROM documents),
pfx AS (
  SELECT COUNT(*) AS flagged FROM (
    SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS p,
           COUNT(*) AS n
    FROM documents GROUP BY p HAVING COUNT(*) >= 2)),
pfx_docs AS (
  SELECT SUM(n) AS docs_in_families FROM (
    SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS p,
           COUNT(*) AS n
    FROM documents GROUP BY p HAVING COUNT(*) >= 2)),
sub AS (
  SELECT COUNT(DISTINCT d.doc_id) AS flagged
  FROM documents d
  JOIN (SELECT doc_id AS eval_id, substr(text, 21, 40) AS snippet
        FROM documents
        WHERE doc_id % 250 = 0 AND LENGTH(text) >= 60
        ORDER BY doc_id LIMIT {_EVAL_CAP}) ev
    ON contains(d.text, ev.snippet))
SELECT 'exact_extra_copies' AS level, CAST(extra AS BIGINT) AS n
FROM exact_d
UNION ALL
SELECT 'prefix_families', CAST(flagged AS BIGINT) FROM pfx
UNION ALL
SELECT 'prefix_family_docs', CAST(COALESCE(docs_in_families, 0) AS BIGINT)
FROM pfx_docs
UNION ALL
SELECT 'substring_contaminated', CAST(flagged AS BIGINT) FROM sub
""")
def dedup_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP SCORECARD — the one-result summary a data lead reads
    before choosing thresholds: how many documents would each dedup
    level remove from THIS corpus? Levels: exact extra copies
    (normalized sha), 10-token prefix families (count + docs
    covered), and verbatim-snippet contamination hits — each level's
    counting logic is the SAME construction as its dedicated operator
    (dedup_exact / text_prefix_dup / text_decontaminate_substring),
    so the scorecard doubles as a cross-check that the levels compose
    on one scan pipeline. All counts integer-exact; the corpus is
    scanned once per level (at 100 TB, fuse the digests into one
    projection pass — each level is a different aggregate of the same
    projected row)."""
    d = load_table(spark, sf_dir, "documents")
    exact_extra = (d.select(
        (F.count(F.lit(1))
         - F.countDistinct(F.sha2(F.lower(F.trim("text")), 256)))
        .alias("n")).withColumn("level", F.lit("exact_extra_copies")))
    pfx_g = (d.select(F.md5(F.concat_ws(
                " ", F.slice(F.split("text", " "), 1, 10))).alias("p"))
              .groupBy("p").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") >= 2))
    pfx_fam = (pfx_g.agg(F.count(F.lit(1)).alias("n"))
                    .withColumn("level", F.lit("prefix_families")))
    pfx_docs = (pfx_g.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
                     .withColumn("level", F.lit("prefix_family_docs")))
    ev = (d.filter((F.col("doc_id") % 250 == 0)
                   & (F.length("text") >= 60))
           .orderBy("doc_id").limit(_EVAL_CAP)
           .select(F.substring("text", 21, 40).alias("snippet")))
    sub = (d.join(F.broadcast(ev),
                  F.contains(F.col("text"), F.col("snippet")))
            .agg(F.countDistinct("doc_id").alias("n"))
            .withColumn("level", F.lit("substring_contaminated")))
    out = exact_extra
    for part in (pfx_fam, pfx_docs, sub):
        out = out.unionByName(part)
    return out.select("level", F.col("n").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Time-series cross-validation folds (expanding window + embargo gap)
# ---------------------------------------------------------------------------

_CV_FOLDS = 4
_CV_TEST_DAYS = 3
_CV_GAP_DAYS = 1


@query("data_cv_time_folds", oracle=f"""
WITH b AS (SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events),
f AS (SELECT unnest(generate_series(1, {_CV_FOLDS})) AS fold),
bounds AS (
  SELECT fold,
         t0 + to_days(CAST(7 * fold AS INT)) AS train_end,
         t0 + to_days(CAST(7 * fold + {_CV_GAP_DAYS} AS INT))
           AS test_start,
         t0 + to_days(CAST(7 * fold + {_CV_GAP_DAYS} + {_CV_TEST_DAYS}
                           AS INT)) AS test_end
  FROM f, b)
SELECT fold,
       CAST(epoch_us(train_end) AS BIGINT) AS train_end_us,
       CAST((SELECT COUNT(*) FROM events e
             WHERE e.ts < bounds.train_end) AS BIGINT) AS n_train,
       CAST((SELECT COUNT(*) FROM events e
             WHERE e.ts >= bounds.test_start
               AND e.ts < bounds.test_end) AS BIGINT) AS n_test
FROM bounds
""")
def data_cv_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES CROSS-VALIDATION FOLDS — expanding-window splits
    with an EMBARGO gap (the walk-forward protocol that replaces
    random k-fold whenever rows are temporally dependent: a random
    fold leaks the future into training; the gap additionally embargos
    rows whose label windows straddle the boundary — the
    label_future_conversion ops here look {_CV_GAP_DAYS}+ days ahead,
    so the gap must cover the label horizon). Fold k trains on
    everything before t0+7k days and tests on a {_CV_TEST_DAYS}-day
    window after the gap; emitted per fold: the boundary (µs) and
    train/test row counts — the manifest a training loop consumes.
    Plan: one min/max scan broadcast into a {_CV_FOLDS}-row fold
    table, then ONE pass over the fact with per-fold conditional
    counts (the correlated-count oracle form decorrelates to the same
    aggregate) — never one scan per fold at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    folds = spark.range(1, _CV_FOLDS + 1).select(
        F.col("id").cast("int").alias("fold"))
    bounds = (folds.crossJoin(F.broadcast(b))
              .select("fold",
                      F.expr("t0 + make_dt_interval(7 * fold)")
                       .alias("train_end"),
                      F.expr(f"t0 + make_dt_interval(7 * fold"
                             f" + {_CV_GAP_DAYS})").alias("test_start"),
                      F.expr(f"t0 + make_dt_interval(7 * fold"
                             f" + {_CV_GAP_DAYS} + {_CV_TEST_DAYS})")
                       .alias("test_end")))
    # ONE fact pass: cross the tiny fold table over events and count
    # conditionally (broadcast side is 4 rows; Catalyst plans a BNLJ
    # over the broadcast — |facts|·4 cheap predicate evaluations).
    j = ev.crossJoin(F.broadcast(bounds))
    return (j.groupBy("fold")
             .agg(F.max(F.unix_micros("train_end")).alias("train_end_us"),
                  F.sum(F.when(F.col("ts") < F.col("train_end"), 1)
                         .otherwise(0)).alias("n_train"),
                  F.sum(F.when((F.col("ts") >= F.col("test_start"))
                               & (F.col("ts") < F.col("test_end")), 1)
                         .otherwise(0)).alias("n_test")))


# ---------------------------------------------------------------------------
# Multiline quoted CSV scan (embedded newlines + escaped quotes)
# ---------------------------------------------------------------------------

import os as _os  # noqa: E402

_MULTI_CSV = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "testdata_derived", "docs_multiline.csv")


@query("scan_csv_multiline", oracle=f"""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(LENGTH(text) - LENGTH(replace(text, chr(10), ''))
            AS BIGINT) AS n_newlines,
       md5(text) AS text_md5
FROM read_csv('{_MULTI_CSV}', header=true, quote='"', escape='"',
              columns={{'doc_id': 'BIGINT', 'lang': 'VARCHAR',
                        'text': 'VARCHAR'}})
""")
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILINE QUOTED CSV — the ingest edge case that silently
    corrupts naive readers: RFC-4180 fields with EMBEDDED NEWLINES
    and doubled-quote escapes (the committed sample plants both).
    Spark needs `multiLine=true` (without it every embedded newline
    starts a bogus record) plus quote/escape set to the RFC
    convention; the md5-of-text output hash-pins byte-exact field
    reconstruction against DuckDB's read_csv, newline counts prove
    the newlines survived INSIDE fields. Scale note, honest:
    multiLine CSV is NOT line-splittable (a newline no longer bounds
    records), so each FILE is one task — at 100 TB keep multiline
    sources as many medium files, or convert once to parquet at the
    ingest edge (the real fix)."""
    df = (spark.read
          .option("header", True)
          .option("multiLine", True)
          .option("quote", '"')
          .option("escape", '"')
          .schema("doc_id long, lang string, text string")
          .csv(_MULTI_CSV))
    return df.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text")
         - F.length(F.regexp_replace("text", "\n", "")))
         .cast("long").alias("n_newlines"),
        F.md5("text").alias("text_md5"))
