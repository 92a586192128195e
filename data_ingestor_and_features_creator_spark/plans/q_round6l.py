"""Round-6l operator additions: graph shape, term association,
interval analytics, and two training-split/monitoring primitives.

Degree distribution (the first question asked of any graph), PMI
term co-occurrence (the information-theoretic twin of the PPM lift),
stratified k-fold assignment, running record highs, free-slot gaps
between merged intervals, and peak-concurrency sweep — each the
textbook construction on the exact-arithmetic toolkit (integer
counts, pinned 9-dp logs, total-order tiebreaks).

Provenance note (SURVEY.md §0 applies — empty reference checkout):
all public-API constructions ([SPARK]/[PK] — PMI is Church & Hanks
1990; stratified k-fold is CV canon; the +1/−1 concurrency sweep and
interval-gap complement are classic interval algorithms).

Registered AFTER every earlier module so the driver-budget rotation
(plans/__init__.py) keeps the existing never-sampled backlog ahead
of these in the class-1 queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import ln9
from ..operators import textops
from .registry import query

_IVL_US = 1_800_000_000  # the 30-min activity interval each event opens
                         # (interval_merge_overlaps' convention)


# ---------------------------------------------------------------------------
# Degree distribution of the part–supplier graph
# ---------------------------------------------------------------------------

_DEGREE_SQL = """
WITH e AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pd AS (
  SELECT l_partkey AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM e GROUP BY l_partkey),
sd AS (
  SELECT l_suppkey AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM e GROUP BY l_suppkey)
SELECT 'part' AS role, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM pd GROUP BY degree
UNION ALL
SELECT 'supplier' AS role, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM sd GROUP BY degree
ORDER BY role, degree
"""


@query("graph_degree_distribution", oracle=_DEGREE_SQL)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the bipartite part–supplier graph [PK —
    the first diagnostic of any graph workload: skew here predicts
    every downstream join's hot keys]: distinct edges, per-node
    degree on each side, then the degree histogram per role — the
    heavy-tail check run before pagerank/triangles/CC are attempted
    (complements audit_join_key_skew, which flags the hot keys this
    histogram distributes). All exact integers. Scale: one distinct
    (the edge dedup shuffle) feeding two branch aggregates of the
    ~|edges| table — each histogram is |distinct degrees| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select("l_partkey", "l_suppkey").distinct()
    pd_ = (e.groupBy(F.col("l_partkey").alias("node"))
             .agg(F.count(F.lit(1)).alias("degree")))
    sd = (e.groupBy(F.col("l_suppkey").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree")))
    hp = (pd_.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
             .select(F.lit("part").alias("role"), "degree", "n_nodes"))
    hs = (sd.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.lit("supplier").alias("role"), "degree", "n_nodes"))
    return hp.unionAll(hs).orderBy("role", "degree")


# ---------------------------------------------------------------------------
# PMI term co-occurrence (top-vocabulary pairs)
# ---------------------------------------------------------------------------

_PMI_SQL = """
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c
  FROM dt WHERE term <> '' GROUP BY term),
top AS (
  SELECT term, c,
         row_number() OVER (ORDER BY c DESC, term) AS rnk
  FROM df QUALIFY rnk <= 20),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS ndocs
      FROM documents),
pairs AS (
  SELECT a.term AS t1, b.term AS t2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  WHERE a.term IN (SELECT term FROM top)
    AND b.term IN (SELECT term FROM top)
  GROUP BY a.term, b.term)
SELECT p.t1, p.t2, p.c_ab,
       ROUND(ROUND(ln((p.c_ab * n.ndocs) / (ta.c * CAST(tb.c AS DOUBLE))),
                   9), 6) AS pmi
FROM pairs p
JOIN top ta ON p.t1 = ta.term
JOIN top tb ON p.t2 = tb.term
CROSS JOIN n
WHERE p.c_ab >= 5
ORDER BY p.t1, p.t2
"""


@query("text_pmi_cooccurrence", oracle=_PMI_SQL)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTWISE MUTUAL INFORMATION of term pairs [PK — Church &
    Hanks 1990]: PMI = ln(P(a,b)/(P(a)P(b))) over document-level
    co-occurrence — the information-theoretic association measure
    next to agg_cooccurrence_lift's PPM ratio (PMI is log-scaled and
    symmetric-marginal; lift is linear). The pair space is bounded
    BEFORE the self-join: only the top-20 vocabulary terms (doc-freq
    rank, name tiebreak) enter, so the join fans out ≤ C(20,2) pairs
    per doc — the blocking rule every all-pairs op in this repo
    obeys; probabilities are exact rationals, ln pinned 9 dp. Scale:
    distinct-(doc, term) dedup shuffle, broadcast top-k semi-filter,
    bounded self-join, one pair aggregate."""
    d = load_table(spark, sf_dir, "documents")
    dt = (d.select("doc_id",
                   F.explode(textops.tokens(F.lower("text"))).alias("term"))
           .filter(F.col("term") != "")
           .distinct())
    df_ = dt.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    wr = W.orderBy(F.desc("c"), "term")
    top = (df_.select("term", "c", F.row_number().over(wr).alias("rnk"))
              .filter(F.col("rnk") <= 20))
    ndocs = d.agg(F.countDistinct("doc_id").cast("double").alias("ndocs"))
    dtt = dt.join(F.broadcast(top.select("term")), "term")
    a = dtt.select("doc_id", F.col("term").alias("t1"))
    b = dtt.select("doc_id", F.col("term").alias("t2"))
    pairs = (a.join(b, "doc_id")
              .filter(F.col("t1") < F.col("t2"))
              .groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c_ab")))
    p = (pairs.join(F.broadcast(top.select(F.col("term").alias("t1"),
                                           F.col("c").alias("ca"))), "t1")
              .join(F.broadcast(top.select(F.col("term").alias("t2"),
                                           F.col("c").alias("cb"))), "t2")
              .crossJoin(F.broadcast(ndocs)))
    pmi = ln9((F.col("c_ab") * F.col("ndocs"))
              / (F.col("ca") * F.col("cb").cast("double")))
    return (p.filter(F.col("c_ab") >= 5)
             .select("t1", "t2", "c_ab", F.round(pmi, 6).alias("pmi"))
             .orderBy("t1", "t2"))


# ---------------------------------------------------------------------------
# Stratified k-fold assignment
# ---------------------------------------------------------------------------

_SKFOLD_SQL = """
WITH f AS (
  SELECT event_type AS stratum,
         (event_id % 1000003) * 2654435761 % 1000003 % 5 AS fold
  FROM events),
c AS (
  SELECT stratum, fold, CAST(COUNT(*) AS BIGINT) AS n
  FROM f GROUP BY stratum, fold),
t AS (
  SELECT stratum, CAST(SUM(n) AS BIGINT) AS n_stratum
  FROM c GROUP BY stratum)
SELECT c.stratum, c.fold, c.n,
       CAST((c.n * 1000000) // t.n_stratum AS BIGINT) AS share_ppm
FROM c JOIN t ON c.stratum = t.stratum
ORDER BY c.stratum, c.fold
"""


@query("data_stratified_kfold", oracle=_SKFOLD_SQL)
def data_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED K-FOLD assignment [PK — CV canon; the sklearn
    StratifiedKFold semantics made RNG-free]: every row gets a fold
    from the portable Knuth hash (reproducible on any engine — the
    data_split_hash gate), and the output is the stratum × fold
    contingency with integer-PPM shares — the BALANCE AUDIT that
    proves each fold carries ~1/k of every stratum, which plain
    data_kfold_split cannot promise for rare classes. Shares use
    Spark DIV ≡ DuckDB // (the integer-PPM house rule — no float
    division in the checkable output). Scale: one hash agg on
    (stratum, fold) — 5k cells max — plus a tiny rollup join."""
    ev = load_table(spark, sf_dir, "events")
    fold = (F.col("event_id") % 1000003) * F.lit(2654435761) % 1000003 % 5
    f_ = ev.select(F.col("event_type").alias("stratum"),
                   fold.alias("fold"))
    c = f_.groupBy("stratum", "fold").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("stratum").agg(F.sum("n").alias("n_stratum"))
    return (c.join(t, "stratum")
             .select("stratum", "fold", "n",
                     F.expr("(n * 1000000) div n_stratum").alias("share_ppm"))
             .orderBy("stratum", "fold"))


# ---------------------------------------------------------------------------
# Running record highs
# ---------------------------------------------------------------------------

_RECORD_SQL = """
WITH r AS (
  SELECT user_id, event_id, ts, value,
         MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_max
  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
SELECT user_id, event_id, value,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS record_no
FROM r WHERE prev_max IS NULL OR value > prev_max
ORDER BY user_id, record_no
"""


@query("win_record_highs", oracle=_RECORD_SQL)
def win_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING RECORD HIGHS [PK — the record-values process of
    extreme-value theory; ops reading: new-peak alerts]: emit each
    event that strictly exceeds EVERY earlier value of its user
    (prev running max via a 1-PRECEDING frame — the first event is
    record #1 by the NULL frame), numbered by a second row_number
    over the already-filtered records. Values pass through untouched
    — no arithmetic at all, so the op is exact at any scale by
    construction. Scale: two window passes sharing one per-user
    sort; output is the record set (≈ H(n) ~ ln n rows per user —
    tiny)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value"))
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max = F.max("value").over(ws.rowsBetween(W.unboundedPreceding, -1))
    r = ev.select("user_id", "event_id", "ts", "value",
                  prev_max.alias("prev_max"))
    rec = r.filter(F.col("prev_max").isNull()
                   | (F.col("value") > F.col("prev_max")))
    return (rec.select("user_id", "event_id", "value",
                       F.row_number().over(ws).cast("long")
                        .alias("record_no"))
               .orderBy("user_id", "record_no"))


# ---------------------------------------------------------------------------
# Gaps between merged activity intervals
# ---------------------------------------------------------------------------

_GAPS_SQL = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_IVL_US} AS e,
         event_id
  FROM events),
m AS (
  SELECT user_id, s, e, event_id,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv)
SELECT user_id, event_id, prev_max_e AS gap_start_us,
       s AS gap_end_us, s - prev_max_e AS gap_us
FROM m WHERE prev_max_e IS NOT NULL AND s > prev_max_e
ORDER BY user_id, gap_start_us, event_id
"""


@query("interval_gaps", oracle=_GAPS_SQL)
def interval_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS between merged activity intervals [PK — the complement of
    interval_merge_overlaps: same 30-min-per-event intervals, same
    cumulative-max scaffold, but emitting the FREE SLOTS between
    coverage islands — 'when was the user idle', the scheduling /
    downtime-analysis shape]: a gap opens wherever an interval's
    start exceeds the running max of all earlier ends (exactly the
    island boundary the merge op detects), and spans [prev_max_e, s].
    Pure integer epoch-µs arithmetic — exact on both engines. Scale:
    one window pass over one per-user sort; output rows = island
    count − users."""
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select("user_id", s.alias("s"),
                   (s + F.lit(_IVL_US)).alias("e"), "event_id")
    ws = W.partitionBy("user_id").orderBy("s", "event_id")
    prev = F.max("e").over(ws.rowsBetween(W.unboundedPreceding, -1))
    m = iv.select("user_id", "s", "event_id", prev.alias("prev_max_e"))
    return (m.filter(F.col("prev_max_e").isNotNull()
                     & (F.col("s") > F.col("prev_max_e")))
             .select("user_id", "event_id",
                     F.col("prev_max_e").alias("gap_start_us"),
                     F.col("s").alias("gap_end_us"),
                     (F.col("s") - F.col("prev_max_e")).alias("gap_us"))
             .orderBy("user_id", "gap_start_us", "event_id"))


# ---------------------------------------------------------------------------
# Peak concurrency sweep
# ---------------------------------------------------------------------------

_PEAK_SQL = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_IVL_US} AS e,
         event_id
  FROM events),
pts AS (
  SELECT user_id, s AS t, 1 AS delta, event_id FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS delta, event_id FROM iv),
sweep AS (
  SELECT user_id, t,
         SUM(delta) OVER (PARTITION BY user_id
                          ORDER BY t, delta, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS conc
  FROM pts)
SELECT user_id,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
       CAST(MIN(CASE WHEN conc = pk THEN t END) AS BIGINT)
         AS first_peak_us
FROM (SELECT user_id, t, conc,
             MAX(conc) OVER (PARTITION BY user_id) AS pk
      FROM sweep)
GROUP BY user_id ORDER BY user_id
"""


@query("agg_concurrency_peak", oracle=_PEAK_SQL)
def agg_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY via the +1/−1 boundary sweep [PK — the
    classic interval-overlap counting algorithm]: each 30-min
    activity interval contributes a +1 at its start and a −1 at its
    end; the running sum over (t, delta, id) order is the live
    concurrency — delta sorts −1 BEFORE +1 at equal t, so touching
    intervals do NOT overlap (the half-open [s, e) convention,
    pinned by the sort key rather than by an epsilon). Peak is
    order-invariant within equal-key runs (any permutation of k +1s
    passes the same value set), and the FIRST time the peak is hit
    is a deterministic conditional MIN. Integer arithmetic
    throughout. Scale: one union, one per-user window, one
    aggregate — the sweep never materializes pairwise overlaps."""
    ev = load_table(spark, sf_dir, "events")
    t0 = F.unix_micros("ts")
    iv = ev.select("user_id", t0.alias("s"),
                   (t0 + F.lit(_IVL_US)).alias("e"), "event_id")
    pts = (iv.select("user_id", F.col("s").alias("t"),
                     F.lit(1).alias("delta"), "event_id")
             .unionAll(iv.select("user_id", F.col("e").alias("t"),
                                 F.lit(-1).alias("delta"), "event_id")))
    wsweep = (W.partitionBy("user_id").orderBy("t", "delta", "event_id")
               .rowsBetween(W.unboundedPreceding, 0))
    sweep = pts.select("user_id", "t",
                       F.sum("delta").over(wsweep).alias("conc"))
    pk = F.max("conc").over(W.partitionBy("user_id"))
    s2 = sweep.select("user_id", "t", "conc", pk.alias("pk"))
    return (s2.groupBy("user_id")
              .agg(F.max("conc").cast("long").alias("peak_concurrency"),
                   F.min(F.when(F.col("conc") == F.col("pk"), F.col("t")))
                    .cast("long").alias("first_peak_us"))
              .orderBy("user_id"))
