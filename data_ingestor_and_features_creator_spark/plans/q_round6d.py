"""Round-6d operator additions: the information-theory family.

Shannon entropy, KL-divergence drift, mutual information, Zipf
rank-frequency fit, and unigram cross-entropy (perplexity) document
scoring — the operators this engine previously ROUTED AROUND because
per-row libm ln() drifts 1 ulp cross-engine (agg_simpson_diversity,
agg_tvd_drift and BM25's odds-ratio idf exist precisely as log-free
substitutes). Round 6 unlocked the family with the PINNED-LOG
discipline proven by agg_geometric_mean: evaluate ln once per
distinct input, immediately ROUND to 9 dp (a 1-ulp drift only
matters if it straddles a 9-dp boundary — measure-zero), then do all
arithmetic on the pinned values through the DECIMAL(38,12) exact-sum
path so no fold order can drift. Probabilities themselves are exact
IEEE rationals (int/int division — bit-identical cross-engine).

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK]); entropy/KL/MI/Zipf/
perplexity are textbook information theory [PK].

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum_raw, dsum_raw_sql, ln9, ln9_sql
from ..operators import textops
from .registry import query


# ---------------------------------------------------------------------------
# Shannon entropy + evenness per key
# ---------------------------------------------------------------------------

@query("agg_shannon_entropy", oracle=f"""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type),
n AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM c GROUP BY user_id),
h AS (
  SELECT c.user_id, n.n, n.k,
         {dsum_raw_sql(f"-(CAST(c.c AS DOUBLE) / n.n) * "
                       f"{ln9_sql('CAST(c.c AS DOUBLE) / n.n')}")} AS entropy
  FROM c JOIN n ON c.user_id = n.user_id
  GROUP BY c.user_id, n.n, n.k)
SELECT user_id, n, k, ROUND(entropy, 6) AS entropy_nats,
       CASE WHEN k > 1 THEN ROUND(entropy / {ln9_sql('CAST(k AS DOUBLE)')}, 6)
       END AS evenness
FROM h
""")
def agg_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHANNON ENTROPY of each user's event-type mix + Pielou
    evenness H/ln(k) [PK] — the information-theoretic diversity
    measure agg_simpson_diversity approximated log-free; the pinned-
    log discipline (module docstring) makes the real thing oracle-
    checkable: p = c/n is an exact IEEE rational, ln(p) pinned 9 dp,
    -p*ln(p) summed through DECIMAL so fold order can't drift.
    Evenness NULL for single-category users (ln(1)=0). Scale shape:
    two stacked hash aggregates on (user, type) then user — both
    map-side combined, the shuffle carries one row per distinct pair,
    never per event."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("c")))
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"),
                                 F.count(F.lit(1)).alias("k"))
    p = F.col("c").cast("double") / F.col("n")
    h = (c.join(n, "user_id")
          .groupBy("user_id", "n", "k")
          .agg(dsum_raw(-p * ln9(p)).alias("entropy")))
    even = F.when(F.col("k") > 1,
                  F.round(F.col("entropy")
                          / ln9(F.col("k").cast("double")), 6))
    return h.select("user_id", "n", "k",
                    F.round("entropy", 6).alias("entropy_nats"),
                    even.alias("evenness"))


# ---------------------------------------------------------------------------
# KL-divergence drift between adjacent 7-day windows
# ---------------------------------------------------------------------------

@query("agg_kl_divergence", oracle=f"""
WITH f AS (SELECT MAX(ts) AS hi FROM events),
tagged AS (
  SELECT event_type,
         CASE WHEN ts > (SELECT hi FROM f) - INTERVAL 7 DAY THEN 1
              WHEN ts > (SELECT hi FROM f) - INTERVAL 14 DAY THEN 0
         END AS win
  FROM events),
c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN win = 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN win = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS cq
  FROM tagged WHERE win IS NOT NULL GROUP BY event_type),
t AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(cq) AS BIGINT) AS tq
      FROM c)
SELECT c.event_type, c.cp - 1 AS n_recent, c.cq - 1 AS n_prior,
       ROUND(CAST(c.cp AS DOUBLE) / t.tp, 6) AS p,
       ROUND(CAST(c.cq AS DOUBLE) / t.tq, 6) AS q,
       ROUND((CAST(c.cp AS DOUBLE) / t.tp)
             * ({ln9_sql('CAST(c.cp AS DOUBLE) / t.tp')}
                - {ln9_sql('CAST(c.cq AS DOUBLE) / t.tq')}), 6)
         AS kl_contrib
FROM c CROSS JOIN t
""")
def agg_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL-DIVERGENCE drift KL(recent || prior) between the last 7
    days' and the prior 7 days' event-type mixes [PK], with add-one
    (Laplace) smoothing so empty cells can't produce ln(0) — the
    information-theoretic drift gate next to agg_tvd_drift's bounded
    rational one (TVD stays the zero-cell-safe default; KL weights
    tail surprises exponentially, which is what retrain alarms often
    want). Window anchor is the corpus frontier max(ts) — never
    now() (audit_source_freshness rule). Per-category contributions
    are emitted (their sum IS the divergence), each an exact-rational
    p times a difference of two 9-dp-pinned logs, rounded 6 dp.
    Scale: one scan, one tiny (|event_type|-row) aggregate, one 1-row
    total broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("ts").alias("hi"))
    tagged = (ev.crossJoin(F.broadcast(hi))
                .select("event_type",
                        F.when(F.col("ts") > F.col("hi")
                               - F.expr("INTERVAL 7 DAY"), 1)
                         .when(F.col("ts") > F.col("hi")
                               - F.expr("INTERVAL 14 DAY"), 0)
                         .alias("win"))
                .filter(F.col("win").isNotNull()))
    c = (tagged.groupBy("event_type")
               .agg((F.sum(F.when(F.col("win") == 1, 1).otherwise(0)) + 1)
                    .cast("bigint").alias("cp"),
                    (F.sum(F.when(F.col("win") == 0, 1).otherwise(0)) + 1)
                    .cast("bigint").alias("cq")))
    t = c.agg(F.sum("cp").cast("bigint").alias("tp"),
              F.sum("cq").cast("bigint").alias("tq"))
    p = F.col("cp").cast("double") / F.col("tp")
    q = F.col("cq").cast("double") / F.col("tq")
    return (c.crossJoin(F.broadcast(t))
             .select("event_type",
                     (F.col("cp") - 1).alias("n_recent"),
                     (F.col("cq") - 1).alias("n_prior"),
                     F.round(p, 6).alias("p"),
                     F.round(q, 6).alias("q"),
                     F.round(p * (ln9(p) - ln9(q)), 6)
                      .alias("kl_contrib")))


# ---------------------------------------------------------------------------
# Mutual information between event_type and day-of-week
# ---------------------------------------------------------------------------

@query("stat_mutual_information", oracle=f"""
WITH e AS (
  SELECT event_type AS x,
         (epoch_us(ts) // 86400000000) % 7 AS y
  FROM events),
xy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy FROM e GROUP BY x, y),
mx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM xy GROUP BY x),
my AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM xy GROUP BY y),
n AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM xy),
mi AS (
  SELECT {dsum_raw_sql(
      f"(CAST(cxy AS DOUBLE) / n.n) * "
      f"({ln9_sql('CAST(cxy AS DOUBLE) / n.n')}"
      f" - {ln9_sql('CAST(cx AS DOUBLE) / n.n')}"
      f" - {ln9_sql('CAST(cy AS DOUBLE) / n.n')})")} AS mi,
         {dsum_raw_sql(
      f"-(CAST(cxy AS DOUBLE) / n.n) * "
      f"{ln9_sql('CAST(cxy AS DOUBLE) / n.n')}")} AS hxy
  FROM xy JOIN mx ON xy.x = mx.x JOIN my ON xy.y = my.y CROSS JOIN n)
SELECT ROUND(mi, 6) AS mi_nats, ROUND(hxy, 6) AS joint_entropy,
       ROUND(mi / hxy, 6) AS normalized_mi
FROM mi
""")
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event_type and day-of-week [PK] —
    the dependence measure agg_chi2_independence tests significance
    for, in interpretable nats, plus the entropy-normalized form
    (MI / joint entropy, Strehl-Ghosh NMI flavor). Day-of-week is
    epoch-day mod 7 (pure integer arithmetic — Spark's dayofweek and
    DuckDB's disagree on week origin, integers don't). All
    probabilities exact rationals over ONE contingency pass; every
    log pinned 9 dp; contributions summed through DECIMAL. Scale:
    contingency is |types|×7 rows — the aggregate is map-side
    combined, everything after is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(F.col("event_type").alias("x"),
                  ((F.unix_micros("ts") / F.lit(86_400_000_000))
                   .cast("bigint") % 7).alias("y"))
    xy = e.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
    mx = xy.groupBy("x").agg(F.sum("cxy").cast("bigint").alias("cx"))
    my = xy.groupBy("y").agg(F.sum("cxy").cast("bigint").alias("cy"))
    n = xy.agg(F.sum("cxy").cast("bigint").alias("n"))
    j = (xy.join(mx, "x").join(my, "y").crossJoin(F.broadcast(n)))
    pxy = F.col("cxy").cast("double") / F.col("n")
    px = F.col("cx").cast("double") / F.col("n")
    py = F.col("cy").cast("double") / F.col("n")
    mi = j.agg(dsum_raw(pxy * (ln9(pxy) - ln9(px) - ln9(py))).alias("mi"),
               dsum_raw(-pxy * ln9(pxy)).alias("hxy"))
    return mi.select(F.round("mi", 6).alias("mi_nats"),
                     F.round("hxy", 6).alias("joint_entropy"),
                     F.round(F.col("mi") / F.col("hxy"), 6)
                      .alias("normalized_mi"))


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope over the corpus vocabulary
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000


@query("vocab_zipf_slope", oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
tc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
  WHERE term <> '' GROUP BY term),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS r
  FROM tc),
top AS (SELECT * FROM ranked WHERE r <= {_ZIPF_TOP}),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {dsum_raw_sql(ln9_sql('CAST(r AS DOUBLE)'))} AS sx,
         {dsum_raw_sql(ln9_sql('CAST(cnt AS DOUBLE)'))} AS sy,
         {dsum_raw_sql(f"{ln9_sql('CAST(r AS DOUBLE)')} * "
                       f"{ln9_sql('CAST(cnt AS DOUBLE)')}")} AS sxy,
         {dsum_raw_sql(f"{ln9_sql('CAST(r AS DOUBLE)')} * "
                       f"{ln9_sql('CAST(r AS DOUBLE)')}")} AS sxx
  FROM top)
SELECT n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n, 6)
         AS intercept
FROM s
""")
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF RANK-FREQUENCY FIT over the corpus vocabulary [PK]: OLS
    slope of ln(count) vs ln(rank) on the top-1000 terms — natural
    text sits near slope −1; a corpus of templated/generated text or
    boilerplate drifts toward flatter or steeper curves, making this
    a one-number corpus-health diagnostic next to vocab_topk_subwords
    and text_bigram_novelty. Ranks are total-order deterministic
    (count desc, term asc); both logs pinned 9 dp; the four
    regression sums run through DECIMAL over exactly 1000 rows; the
    closed-form slope/intercept assembly is scalar IEEE. Scale: one
    token-count aggregate (the vocab table), a top-k window over it
    (vocab-sized, not corpus-sized), then a 1000-row reduction."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("term"))
    tc = (tok.filter(F.col("term") != "")
             .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
    w = W.orderBy(F.desc("cnt"), F.col("term"))
    top = (tc.withColumn("r", F.row_number().over(w))
             .filter(F.col("r") <= _ZIPF_TOP))
    lx = ln9(F.col("r").cast("double"))
    ly = ln9(F.col("cnt").cast("double"))
    s = top.agg(F.count(F.lit(1)).alias("n"),
                dsum_raw(lx).alias("sx"), dsum_raw(ly).alias("sy"),
                dsum_raw(lx * ly).alias("sxy"), dsum_raw(lx * lx).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - F.col("sx") * slope) / F.col("n")
    return s.select("n", F.round(slope, 6).alias("zipf_slope"),
                    F.round(intercept, 6).alias("intercept"))


# ---------------------------------------------------------------------------
# Unigram cross-entropy (perplexity) document scoring
# ---------------------------------------------------------------------------

@query("text_unigram_logprob", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok2 GROUP BY term),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
lp AS (
  SELECT term, {ln9_sql('CAST(c AS DOUBLE) / t.t')} AS lp
  FROM vocab CROSS JOIN total t),
scored AS (
  SELECT tok2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         {dsum_raw_sql('lp.lp')} AS slp
  FROM tok2 JOIN lp ON tok2.term = lp.term
  GROUP BY tok2.doc_id)
SELECT doc_id, n_tokens,
       ROUND(slp / n_tokens, 6) AS mean_logprob,
       ROUND(exp(-(slp / n_tokens)), 6) AS unigram_ppl
FROM scored
""")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM CROSS-ENTROPY scoring per document [PK] — the
    perplexity-filter shape of real pretraining pipelines (CCNet /
    Wikipedia-LM filtering): score every document by the mean
    log-probability of its tokens under the corpus's own unigram
    model; extreme-perplexity tails are gibberish (high) or
    degenerate repetition (low) and get cut. Here the LM is the
    corpus itself (self-perplexity), so the op is closed over the
    fixture with NO OOV path; a production variant broadcasts a
    reference-LM table instead — identical plan. Token probabilities
    are exact rationals c/T; each distinct token's ln(p) is pinned
    9 dp ONCE in the vocab table, then documents sum the pinned
    values through DECIMAL — the per-doc mean is fold-order-proof
    and the single exp is the geometric-mean pattern. Scale: vocab
    aggregate (map-side combined), vocab broadcast back onto the
    exploded token stream (corpus never shuffles for the join), one
    doc_id hash aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(textops.tokens("text"))
                    .alias("term"))
             .filter(F.col("term") != ""))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("bigint").alias("t"))
    lp = (vocab.crossJoin(F.broadcast(total))
               .select("term",
                       ln9(F.col("c").cast("double") / F.col("t"))
                       .alias("lp")))
    scored = (tok.join(F.broadcast(lp), "term")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_tokens"),
                      dsum_raw(F.col("lp")).alias("slp")))
    mean_lp = F.col("slp") / F.col("n_tokens")
    return scored.select("doc_id", "n_tokens",
                         F.round(mean_lp, 6).alias("mean_logprob"),
                         F.round(F.exp(-mean_lp), 6).alias("unigram_ppl"))
