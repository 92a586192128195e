"""Round-7i operator additions: an ORACLE-CHECKABLE MinHash-LSH
recall/precision evaluation (md5-based, so both engines compute the
identical sketch), the Markov entropy rate, and business-day
arithmetic.

Provenance (SURVEY.md §0 applies — empty reference checkout): MinHash
banding theory is Broder / MMDS ch.3 [PK]; entropy rate of a Markov
chain is Shannon [PK]; the weekday-counting closed form is folklore
calendar arithmetic [PK].

The LSH eval is the noteworthy one: the production sketch
(dedup_fuzzy_minhash) uses xxhash64 and is necessarily rows-only —
DuckDB has no twin. THIS op rebuilds the sketch from md5 (the shared
digest both engines implement bit-identically, the
feature_hashing_trick precedent), which makes recall/precision of
banding against exact-Jaccard ground truth a FULL SQL oracle — the
quality claim the rows-only op could never hash-check.

Float discipline: jaccard/recall/precision are exact-integer ratios
emitted UNROUNDED; entropy-rate terms are exact rationals × 9-dp
pinned logs, string-routed through DECIMAL; business days are
integer-exact end to end.

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

_K = 8           # minhash functions
_BANDS = 4       # bands of _K // _BANDS rows each
_ROWS = _K // _BANDS
_DF_CAP = 100    # hot-shingle cap (dedup_ngram_jaccard precedent)
_J_THR = 0.5     # ground-truth near-dup threshold


def _mh_duck(k: int) -> str:
    return (f"MIN(CAST(concat('0x', substr(md5(concat('{k}:', sh)), "
            f"1, 8)) AS BIGINT))")


def _mh_spark(k: int) -> str:
    return (f"MIN(CAST(conv(substring(md5(concat('{k}:', sh)), 1, 8), "
            f"16, 10) AS BIGINT))")


_DUCK_MINS = ",\n         ".join(
    f"{_mh_duck(k)} AS h{k}" for k in range(_K))
_SPARK_MINS = [f"{_mh_spark(k)} AS h{k}" for k in range(_K)]
_DUCK_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat(CAST(h{_ROWS * b} AS VARCHAR),"
    f" '_', CAST(h{_ROWS * b + 1} AS VARCHAR)) AS sig FROM mh"
    for b in range(_BANDS))


@query("dedup_lsh_recall_eval", oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
  WHERE doc_id % 10 = 0),
tok AS (
  SELECT doc_id, ts FROM base
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         ts[1:GREATEST(1, len(ts) - 8)] AS ts
  FROM base WHERE len(ts) >= 24),
sh0 AS (
  SELECT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
           AS sh
  FROM tok, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(1, len(ts) - 2))) AS i) g),
shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
hot AS (
  SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) > {_DF_CAP}),
shc AS (SELECT doc_id, sh FROM shd
        WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
  FROM shc GROUP BY doc_id),
mh AS (
  SELECT doc_id,
         {_DUCK_MINS}
  FROM shc GROUP BY doc_id),
bands AS ({_DUCK_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
inter AS (
  SELECT x.doc_id AS da, y.doc_id AS db,
         CAST(COUNT(*) AS BIGINT) AS both_sh
  FROM shc x JOIN shc y
    ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id),
truth AS (
  SELECT i.da, i.db
  FROM inter i JOIN sizes sa ON i.da = sa.doc_id
  JOIN sizes sb ON i.db = sb.doc_id
  WHERE CAST(i.both_sh AS DOUBLE) / (sa.sz + sb.sz - i.both_sh)
        >= {_J_THR}),
hits AS (
  SELECT t.da FROM truth t JOIN cand c
    ON t.da = c.da AND t.db = c.db),
ver AS (
  SELECT c.da FROM cand c JOIN truth t
    ON t.da = c.da AND t.db = c.db)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
         CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) END AS recall,
       CASE WHEN (SELECT COUNT(*) FROM cand) > 0 THEN
         CAST((SELECT COUNT(*) FROM ver) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) END AS precision_at_thr
""")
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH-LSH QUALITY EVAL with a FULL SQL ORACLE [PK — Broder
    minhash + MMDS banding theory]: rebuild the sketch from md5 (the
    engines' shared digest — the production xxhash64 sketch is
    rows-only by necessity), band {_K} hashes into {_BANDS}×{_ROWS},
    and measure the banding against EXACT-Jaccard ground truth
    (pairs ≥ {_J_THR} via the shared-shingle join under the
    hot-shingle df ≤ {_DF_CAP} cap): recall = truth pairs the bands
    caught, precision@thr = candidates that verify. This turns the
    repo's LSH quality claim — previously pinned only by planted-dup
    unit tests — into a driver-hash-checkable statement computed
    identically by two engines. Exact integers + unrounded ratios.
    Ground truth EXISTS BY CONSTRUCTION: the corpus sample is
    augmented with a deterministic near-dup TWIN per doc (last 8
    tokens dropped — jaccard ~0.75-0.9, close enough to the banding
    S-curve's shoulder that recall is measurably < 1) on BOTH
    engines — the
    organic word-soup fixture has no ≥{_J_THR} pairs, and an oracle
    that matches on zeros is vacuous (the documented pitfall; caught
    by inspecting n_truth before shipping).
    Scale shape: the eval runs on a DETERMINISTIC 10%% corpus sample
    (doc_id %% 10 — identical on both engines): quality estimation
    needs a sample, not the corpus, and the unsampled ground-truth
    join is quadratic-ish in shingle df (the full-corpus oracle
    spilled DuckDB to disk exhaustion at the 50k-doc blow-up —
    measured, which is WHY the sample is part of the op's contract).
    Within the sample, ground truth shares the candidate-generation
    discipline (shingle equi-join, df cap) so the eval never goes
    all-pairs; the md5 sketch costs one string digest per
    (shingle, k) — the eval-tool price, not the production path
    (xxhash64 stays the fast sketch)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0)
    base = docs.select("doc_id", F.split("text", " ").alias("ts"))
    twins = (base.filter(F.size("ts") >= 24)
             .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                     F.expr("slice(ts, 1, greatest(1, size(ts) - 8))")
                     .alias("ts")))
    tok = base.unionByName(twins)
    sh0 = tok.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(1, size(ts) - 2)), "
            "i -> concat_ws(' ', slice(ts, i, 3)))")).alias("sh"))
    shd = sh0.distinct()
    hot = (shd.groupBy("sh").count()
              .filter(F.col("count") > _DF_CAP).select("sh"))
    # NOT cached, by measurement (round-11 optimization pass): shc
    # tops four branches (sizes, the md5 sketch, both ground-truth
    # sides), but an interleaved A/B at sf0.1 read cached
    # 24.0/9.0 s vs uncached 9.6/8.4 s — ReuseExchange already shares
    # the work under the branch aggregates, and materializing the wide
    # exploded shingle rows costs more than it saves.
    shc = shd.join(F.broadcast(hot), "sh", "left_anti")
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    mh = shc.groupBy("doc_id").agg(
        *[F.expr(e) for e in _SPARK_MINS])
    bands = None
    for b in range(_BANDS):
        part = mh.select(
            "doc_id", F.lit(b).alias("band"),
            F.concat_ws("_", F.col(f"h{_ROWS * b}").cast("string"),
                        F.col(f"h{_ROWS * b + 1}").cast("string"))
            .alias("sig"))
        bands = part if bands is None else bands.unionByName(part)
    a = bands.select(F.col("doc_id").alias("da"), "band", "sig")
    b_ = bands.select(F.col("doc_id").alias("db"), "band", "sig")
    cand = (a.join(b_, ["band", "sig"])
             .filter(F.col("da") < F.col("db"))
             .select("da", "db").distinct())
    x = shc.select(F.col("doc_id").alias("da"), "sh")
    y = shc.select(F.col("doc_id").alias("db"), "sh")
    inter = (x.join(y, "sh").filter(F.col("da") < F.col("db"))
              .groupBy("da", "db").agg(F.count(F.lit(1)).alias("both_sh")))
    truth = (inter
             .join(sizes.select(F.col("doc_id").alias("da"),
                                F.col("sz").alias("sza")), "da")
             .join(sizes.select(F.col("doc_id").alias("db"),
                                F.col("sz").alias("szb")), "db")
             .filter(F.col("both_sh").cast("double")
                     / (F.col("sza") + F.col("szb") - F.col("both_sh"))
                     >= _J_THR)
             .select("da", "db"))
    hits = truth.join(cand, ["da", "db"])
    out = (truth.agg(F.count(F.lit(1)).alias("n_truth"))
           .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
           .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits"))))
    return out.select(
        "n_truth", "n_candidates", "n_hits",
        F.when(F.col("n_truth") > 0,
               F.col("n_hits").cast("double") / F.col("n_truth"))
        .alias("recall"),
        F.when(F.col("n_candidates") > 0,
               F.col("n_hits").cast("double") / F.col("n_candidates"))
        .alias("precision_at_thr"))


# ---------------------------------------------------------------------------
# Markov entropy rate of the event-type process
# ---------------------------------------------------------------------------

@query("seq_markov_entropy_rate", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
tr AS (
  SELECT prev, event_type AS cur FROM seq WHERE prev IS NOT NULL),
cij AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr GROUP BY prev, cur),
ci AS (
  SELECT prev, CAST(SUM(c) AS BIGINT) AS ct FROM cij GROUP BY prev),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cij),
terms AS (
  SELECT cij.prev, cij.cur,
         -1.0 * (CAST(ci.ct AS DOUBLE) / tot.n)
              * (CAST(cij.c AS DOUBLE) / ci.ct)
              * ROUND(ln(CAST(cij.c AS DOUBLE) / ci.ct), 9) AS term
  FROM cij JOIN ci ON cij.prev = ci.prev, tot)
SELECT CAST((SELECT COUNT(DISTINCT prev) FROM cij) AS BIGINT)
         AS n_states,
       (SELECT CAST(n AS BIGINT) FROM tot) AS n_transitions,
       CAST(SUM(CAST(CAST(term AS VARCHAR) AS DECIMAL(38,12)))
            AS DOUBLE) AS entropy_rate
FROM terms
""")
def seq_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV ENTROPY RATE (Shannon [PK]) of the per-user event-type
    process: H = −Σᵢ π(i) Σⱼ p(j|i) ln p(j|i) with the empirical
    stationary weights π(i) = cᵢ/N — the bits-per-event measure that
    says how PREDICTABLE the next action is given the current one
    (seq_transition_probs emits the matrix; this op compresses it to
    the one number capacity planners and anomaly baselines use).
    Transitions reduce to a ≤|types|² cell table, so after one
    (user) window pass everything is vocabulary-sized. Terms are
    exact rationals × a 9-dp PINNED log, string-routed into DECIMAL
    (full-precision products); the rate is emitted UNROUNDED."""
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lag("event_type").over(wo).alias("prev"))
    tr = seq.filter(F.col("prev").isNotNull()) \
            .select("prev", F.col("event_type").alias("cur"))
    cij = tr.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    ci = cij.groupBy("prev").agg(F.sum("c").alias("ct"))
    tot = cij.agg(F.sum("c").alias("n"))
    j = (cij.join(ci, "prev").crossJoin(F.broadcast(tot)))
    pij = F.col("c").cast("double") / F.col("ct")
    pi = F.col("ct").cast("double") / F.col("n")
    term = (F.lit(-1.0) * pi * pij * F.round(F.log(pij), 9))
    agg = j.agg(
        F.countDistinct("prev").alias("n_states"),
        F.max("n").alias("n_transitions"),
        F.sum(term.cast("string").cast(DEC)).cast("double")
        .alias("entropy_rate"))
    return agg.select(F.col("n_states").cast("long").alias("n_states"),
                      F.col("n_transitions").cast("long")
                      .alias("n_transitions"), "entropy_rate")


# ---------------------------------------------------------------------------
# Business-day arithmetic (closed form, no calendar table)
# ---------------------------------------------------------------------------

# Monday anchor: 1970-01-05. g(d) = weekdays in [anchor, d) =
# (n//7)*5 + min(n%7, 5) with n = days since anchor; business days in
# [a, b) = g(b) − g(a). Identical integer arithmetic on both engines;
# only the days-since-anchor primitive differs in spelling.


@query("date_business_day_count", oracle="""
WITH span AS (
  SELECT user_id,
         CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
  FROM events GROUP BY user_id),
n AS (
  SELECT user_id, d0, d1,
         date_diff('day', DATE '1970-01-05', d0) AS n0,
         date_diff('day', DATE '1970-01-05', d1) AS n1
  FROM span)
SELECT user_id,
       CAST(n1 - n0 AS BIGINT) AS cal_days,
       CAST(((n1 // 7) * 5 + LEAST(n1 % 7, 5))
            - ((n0 // 7) * 5 + LEAST(n0 % 7, 5)) AS BIGINT)
         AS business_days
FROM n
""")
def date_business_day_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-DAY COUNT in closed form [PK — folklore calendar
    arithmetic]: weekdays in [first, last) per user as g(d1) − g(d0)
    with g(d) = (n÷7)·5 + min(n mod 7, 5), n = days since a MONDAY
    anchor (1970-01-05) — no calendar dimension table, no per-day
    explode, O(1) per row; the generate-and-filter alternative
    materializes span×users rows for the same answer. Pure integer
    arithmetic — the only cross-engine care is that both sides count
    days since the SAME anchor (DuckDB date_diff ≡ Spark datediff on
    DATE — boundary-crossing vs elapsed ambiguity doesn't exist at
    day grain on DATEs), and the anchor being a Monday is what makes
    min(n mod 7, 5) count the partial week correctly. SLA/latency
    reporting runs on this at any scale: one aggregate, one
    projection."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("d0"),
        F.to_date(F.max("ts")).alias("d1"))
    anchor = F.lit("1970-01-05").cast("date")
    n0 = F.datediff(F.col("d0"), anchor)
    n1 = F.datediff(F.col("d1"), anchor)

    def g(nn):
        return (nn / 7).cast("long") * 5 + F.least(nn % 7, F.lit(5))

    return span.select(
        "user_id",
        (n1 - n0).cast("long").alias("cal_days"),
        (g(n1) - g(n0)).cast("long").alias("business_days"))
