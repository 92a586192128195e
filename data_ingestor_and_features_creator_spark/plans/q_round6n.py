"""Round-6n operator additions: corpus-quality and eval-curve ops.

Character-entropy quality gating, Dunning log-likelihood keyness,
PR-AUC (average precision) and the ROC curve table over the model-
evaluation score derivation, and second-order Markov transitions —
more of the LLM-training-data surface: two corpus filters, two eval
curves, one sequence model. Probabilities and rates stay exact
rationals, every ln is pinned to 9 dp, rank selections use rounded
keys + name tiebreaks so top-k is deterministic cross-engine.

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — char-entropy gating is
the C4/Gopher-family quality heuristic; LLR keyness is Dunning 1993;
average precision and ROC are IR/eval canon; n-th order Markov
chains are textbook).

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql, ln9, r6, r6_sql
from ..operators import textops
from .q_round6j import _SCORED_SQL, _scored
from .registry import query


# ---------------------------------------------------------------------------
# Character-entropy quality gate
# ---------------------------------------------------------------------------

_CHAR_ENTROPY_SQL = f"""
WITH t AS (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE length(lower(text)) >= 1),
ch AS (
  SELECT doc_id, substr(t, CAST(p AS INT), 1) AS ch
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, length(t))) AS p FROM t)),
c AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM ch GROUP BY doc_id, ch),
n AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY doc_id),
h AS (
  SELECT c.doc_id, n.n,
         {dsum_sql("-(CAST(c.c AS DOUBLE) / n.n)"
                   " * ROUND(ln(CAST(c.c AS DOUBLE) / n.n), 9)")} AS ent
  FROM c JOIN n ON c.doc_id = n.doc_id
  GROUP BY c.doc_id, n.n)
SELECT doc_id, n AS n_chars, {r6_sql('ent')} AS char_entropy,
       COALESCE({r6_sql('ent')} < 2.0, false) AS flag_low_entropy
FROM h ORDER BY doc_id
"""


@query("text_char_entropy_filter", oracle=_CHAR_ENTROPY_SQL)
def text_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-ENTROPY quality gate [PK — the C4/Gopher-family
    heuristic: natural language sits ~3–4.5 nats of char entropy;
    repeated-character spam and template boilerplate sit far lower,
    so the low-entropy flag is a cheap gibberish/spam filter that
    complements text_repetition_filter's n-gram view]. Per-doc char
    distribution → −Σp·ln9(p) with exact-rational p and the pinned-
    log discipline; the flag compares the ROUNDED entropy (identical
    on both engines) and is COALESCEd per the boolean house rule.
    Scale: the char explode is len(doc) rows/doc feeding an
    immediately-collapsing (doc, char) aggregate — the shuffle
    carries one row per distinct pair, never per char."""
    t = (load_table(spark, sf_dir, "documents")
         .select("doc_id", F.lower("text").alias("t"))
         .filter(F.length("t") >= 1))
    ch = t.select("doc_id", F.explode(F.expr(
        "transform(sequence(1, length(t)), p -> substring(t, p, 1))"))
         .alias("ch"))
    c = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    h = (c.join(n, "doc_id")
          .groupBy("doc_id", "n")
          .agg(dsum(-p * ln9(p)).alias("ent")))
    ent6 = r6(F.col("ent"))
    return (h.select("doc_id", F.col("n").alias("n_chars"),
                     ent6.alias("char_entropy"),
                     F.coalesce(ent6 < 2.0, F.lit(False))
                      .alias("flag_low_entropy"))
             .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Dunning log-likelihood keyness (en vs rest)
# ---------------------------------------------------------------------------

_LLR_SQL = """
WITH tok AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tc AS (
  SELECT term,
         CAST(SUM(grp) AS BIGINT) AS k1,
         CAST(SUM(1 - grp) AS BIGINT) AS k2
  FROM tok WHERE term <> '' GROUP BY term),
tot AS (
  SELECT CAST(SUM(k1) AS DOUBLE) AS n1, CAST(SUM(k2) AS DOUBLE) AS n2
  FROM tc),
llr AS (
  SELECT term, k1, k2,
         2.0 * ((CASE WHEN k1 > 0 THEN k1 * ROUND(ln(
                   k1 * (n1 + n2) / (n1 * (k1 + k2))), 9) ELSE 0.0 END)
              + (CASE WHEN k2 > 0 THEN k2 * ROUND(ln(
                   k2 * (n1 + n2) / (n2 * (k1 + k2))), 9) ELSE 0.0 END))
           AS g2
  FROM tc, tot),
r AS (
  SELECT term, k1, k2, ROUND(g2, 6) AS llr,
         row_number() OVER (ORDER BY ROUND(g2, 6) DESC, term) AS rnk
  FROM llr)
SELECT term, k1 AS k_en, k2 AS k_rest, llr
FROM r WHERE rnk <= 20 ORDER BY llr DESC, term
"""


@query("text_llr_keyness", oracle=_LLR_SQL)
def text_llr_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUNNING LOG-LIKELIHOOD KEYNESS [PK — Dunning 1993]: which
    terms are distinctive of the English subcorpus vs the rest —
    G² = 2Σ kᵢ·ln(kᵢ/Eᵢ) with expectations from the pooled rate; the
    corpus-linguistics statistic that behaves at low counts where
    tf-idf and PMI blow up. kᵢ/Eᵢ = kᵢ(n₁+n₂)/(nᵢ(k₁+k₂)) is an
    exact rational of BIGINT counts evaluated identically as one
    double expression, ln pinned 9 dp, zero cells contributing
    exactly 0 by CASE. Top-20 ranked by the ROUNDED statistic with
    the term tiebreak — rank keys must be post-round or the two
    engines could order ulp-close G² values differently. Scale: one
    token aggregate (the shuffle carries distinct terms), a 1-row
    broadcast total, one tiny top-k."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
        F.explode(textops.tokens(F.lower("text"))).alias("term"))
    tc = (tok.filter(F.col("term") != "")
             .groupBy("term")
             .agg(F.sum("grp").alias("k1"),
                  F.sum(1 - F.col("grp")).alias("k2")))
    tot = tc.agg(F.sum("k1").cast("double").alias("n1"),
                 F.sum("k2").cast("double").alias("n2"))
    x = tc.crossJoin(F.broadcast(tot))
    k1, k2 = F.col("k1"), F.col("k2")
    n1, n2 = F.col("n1"), F.col("n2")
    t1 = F.when(k1 > 0,
                k1 * ln9(k1 * (n1 + n2) / (n1 * (k1 + k2)))).otherwise(0.0)
    t2 = F.when(k2 > 0,
                k2 * ln9(k2 * (n1 + n2) / (n2 * (k1 + k2)))).otherwise(0.0)
    g2 = 2.0 * (t1 + t2)
    r = x.select("term", "k1", "k2", F.round(g2, 6).alias("llr"))
    wr = W.orderBy(F.desc("llr"), "term")
    return (r.select("term", F.col("k1").alias("k_en"),
                     F.col("k2").alias("k_rest"), "llr",
                     F.row_number().over(wr).alias("rnk"))
             .filter(F.col("rnk") <= 20).drop("rnk")
             .orderBy(F.desc("llr"), "term"))


# ---------------------------------------------------------------------------
# PR-AUC (average precision)
# ---------------------------------------------------------------------------

_PRAUC_SQL = f"""
WITH {_SCORED_SQL},
d AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY p),
cum AS (
  SELECT p,
         SUM(pos) OVER w AS cpos, SUM(t) OVER w AS cn,
         SUM(pos) OVER w - pos AS ppos,
         (SELECT SUM(pos) FROM d) AS npos
  FROM d
  WINDOW w AS (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ap AS (
  SELECT {dsum_sql("(CAST(cpos AS DOUBLE) / npos"
                   " - CAST(ppos AS DOUBLE) / npos)"
                   " * (CAST(cpos AS DOUBLE) / cn)")} AS ap,
         CAST(MAX(npos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) AS BIGINT) AS n_thresholds
  FROM cum)
SELECT n_pos, n_thresholds, {r6_sql('ap')} AS average_precision
FROM ap
"""


@query("ml_pr_auc", oracle=_PRAUC_SQL)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC as AVERAGE PRECISION [PK — IR/eval canon; the metric
    that, unlike ROC-AUC, does not flatter imbalanced classes]:
    AP = Σ (recallᵢ − recallᵢ₋₁)·precisionᵢ over thresholds swept
    down the DISTINCT-score table (the ml_auc_roc collapse — tied
    scores enter as one block, the correct tie treatment). Recall
    deltas and precisions are exact rationals of cumulative BIGINTs
    evaluated as identical double expressions; the Σ runs through
    DECIMAL. Scale: one score aggregate, one tiny window over
    |distinct scores|, a scalar out."""
    sc = _scored(spark, sf_dir)
    d = sc.groupBy("p").agg(F.count(F.lit(1)).alias("t"),
                            F.sum("y").alias("pos"))
    wc = W.orderBy(F.desc("p")).rowsBetween(W.unboundedPreceding, 0)
    npos = d.agg(F.sum("pos").alias("npos"))
    cum = (d.select("p",
                    F.sum("pos").over(wc).alias("cpos"),
                    F.sum("t").over(wc).alias("cn"),
                    (F.sum("pos").over(wc) - F.col("pos")).alias("ppos"))
            .crossJoin(F.broadcast(npos)))
    cpos, cn = F.col("cpos"), F.col("cn")
    ppos, np_ = F.col("ppos"), F.col("npos")
    term = ((cpos.cast("double") / np_ - ppos.cast("double") / np_)
            * (cpos.cast("double") / cn))
    ap = cum.agg(dsum(term).alias("ap"),
                 F.max("npos").alias("n_pos"),
                 F.count(F.lit(1)).alias("n_thresholds"))
    return ap.select("n_pos", "n_thresholds",
                     r6(F.col("ap")).alias("average_precision"))


# ---------------------------------------------------------------------------
# ROC curve table
# ---------------------------------------------------------------------------

_ROC_SQL = f"""
WITH {_SCORED_SQL},
d AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY p),
tot AS (
  SELECT CAST(SUM(pos) AS DOUBLE) AS npos,
         CAST(SUM(t - pos) AS DOUBLE) AS nneg FROM d),
cum AS (
  SELECT p,
         CAST(row_number() OVER (ORDER BY p DESC) AS BIGINT) AS rnk,
         SUM(pos) OVER w AS cpos,
         SUM(t - pos) OVER w AS cneg
  FROM d
  WINDOW w AS (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT rnk, {r6_sql('p')} AS threshold,
       {r6_sql('CAST(cpos AS DOUBLE) / tot.npos')} AS tpr,
       {r6_sql('CAST(cneg AS DOUBLE) / tot.nneg')} AS fpr
FROM cum, tot ORDER BY rnk
"""


@query("ml_roc_curve", oracle=_ROC_SQL)
def ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC CURVE table [PK — eval canon]: (TPR, FPR) at every
    distinct score threshold, swept descending — the operating-point
    table a deployment picks its threshold from (ml_auc_roc gives
    the area; this gives the curve). Cumulative BIGINTs over the
    distinct-score table; rates exact rationals rounded 6 dp; the
    threshold itself is a 6-dp round of the derived score (identical
    doubles cross-engine). Scale: |distinct scores| rows out of one
    aggregate + one tiny window."""
    sc = _scored(spark, sf_dir)
    d = sc.groupBy("p").agg(F.count(F.lit(1)).alias("t"),
                            F.sum("y").alias("pos"))
    tot = d.agg(F.sum("pos").cast("double").alias("npos"),
                F.sum(F.col("t") - F.col("pos")).cast("double")
                 .alias("nneg"))
    wc = W.orderBy(F.desc("p")).rowsBetween(W.unboundedPreceding, 0)
    cum = (d.select("p",
                    F.row_number().over(W.orderBy(F.desc("p")))
                     .cast("long").alias("rnk"),
                    F.sum("pos").over(wc).alias("cpos"),
                    F.sum(F.col("t") - F.col("pos")).over(wc).alias("cneg"))
            .crossJoin(F.broadcast(tot)))
    return (cum.select("rnk", r6(F.col("p")).alias("threshold"),
                       r6(F.col("cpos").cast("double") / F.col("npos"))
                        .alias("tpr"),
                       r6(F.col("cneg").cast("double") / F.col("nneg"))
                        .alias("fpr"))
               .orderBy("rnk"))


# ---------------------------------------------------------------------------
# Second-order Markov transitions
# ---------------------------------------------------------------------------

_TRANS2_SQL = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type, 1) OVER w AS p1,
         lag(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (
  SELECT p2, p1, event_type AS cur, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE p2 IS NOT NULL GROUP BY p2, p1, event_type),
t AS (
  SELECT p2, p1, CAST(SUM(n) AS BIGINT) AS ctx_n
  FROM c GROUP BY p2, p1)
SELECT c.p2, c.p1, c.cur, c.n,
       CAST((c.n * 1000000) // t.ctx_n AS BIGINT) AS prob_ppm
FROM c JOIN t ON c.p2 = t.p2 AND c.p1 = t.p1
ORDER BY c.p2, c.p1, c.cur
"""


@query("seq_transitions_second_order", oracle=_TRANS2_SQL)
def seq_transitions_second_order(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SECOND-ORDER MARKOV transitions [PK — textbook n-th order
    chains]: P(cur | prev2, prev1) over each user's time-ordered
    event stream — the context-widening of seq_transition_probs'
    first-order table that captures patterns like view→click→
    purchase vs click→view→purchase, which a 1st-order chain cannot
    distinguish. Two lags share ONE window spec (one sort);
    probabilities in integer PPM (Spark DIV ≡ DuckDB // — no float
    division in the checkable output); context rows with fewer than
    2 predecessors are excluded on both engines identically. Scale:
    one per-user sort, one (p2, p1, cur) aggregate — the shuffle
    carries the |types|³ contingency, never events."""
    ev = load_table(spark, sf_dir, "events")
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lag("event_type", 1).over(ws).alias("p1"),
                  F.lag("event_type", 2).over(ws).alias("p2"))
    c = (s.filter(F.col("p2").isNotNull())
          .groupBy("p2", "p1", F.col("event_type").alias("cur"))
          .agg(F.count(F.lit(1)).alias("n")))
    t = c.groupBy("p2", "p1").agg(F.sum("n").alias("ctx_n"))
    return (c.join(t, ["p2", "p1"])
             .select("p2", "p1", "cur", "n",
                     F.expr("(n * 1000000) div ctx_n").alias("prob_ppm"))
             .orderBy("p2", "p1", "cur"))
