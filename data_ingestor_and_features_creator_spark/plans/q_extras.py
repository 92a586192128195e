"""Late-round-2 additions: LLM-training chunking, sequence/transition
mining, window-rank ratios, sliding distinct counts and deterministic
mode.

Registered AFTER every other module on purpose: the driver verifies a
~50-query prefix of the priority order (plans/__init__.py), and that
prefix was frozen mid-round — these ids append to the tail so the
already-advertised verification order is undisturbed; they rotate into
the priority prefix next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query


def _tokens(col):
    """Whitespace tokens, empty-safe. The split class is the explicit
    [ \\t\\r\\n]+ on BOTH engines (Java \\s includes \\x0B, RE2's does
    not — an explicit class sidesteps the drift)."""
    return F.filter(F.split(col, r"[ \t\r\n]+"), lambda t: t != F.lit(""))


_CHUNK, _STRIDE = 32, 24  # tokens per chunk / stride (overlap 8)


@query("text_chunk_overlap", oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \t\r\n]+'),
                     x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), e AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n - 1, {_STRIDE})) AS st
  FROM s
)
SELECT doc_id,
       CAST(st // {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(LEAST({_CHUNK}, n - st) AS BIGINT) AS n_tok,
       array_to_string(toks[st + 1:st + {_CHUNK}], ' ') AS chunk_text
FROM e
WHERE st = 0 OR st < n - {_CHUNK - _STRIDE}
""")
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-training document chunking: fixed token windows with stride
    overlap (chunk 32, stride 24), the standard pretraining prep step.

    Pure expression plan — tokenize once, bounded explode of the stride
    grid (≤ n/stride chunk ids per doc, no unbounded fan-out), slice +
    join per chunk. The tail rule keeps exactly one end-reaching chunk:
    a start survives iff it is 0 or the previous chunk stopped short of
    the end (st < n - overlap). At 100 TB this is a single narrow map
    stage — no shuffle at all; chunk rows inherit the scan's
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _tokens(F.col("text")).alias("toks")) \
            .withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    e = t.select(
        "doc_id", "toks", "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1,
                             F.lit(_STRIDE))).alias("st"))
    keep = (F.col("st") == 0) | (F.col("st") < F.col("n") - (_CHUNK - _STRIDE))
    return e.filter(keep).select(
        "doc_id",
        F.expr(f"CAST(st DIV {_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("st"))
         .cast("long").alias("n_tok"),
        F.array_join(F.slice("toks", F.col("st") + 1, F.lit(_CHUNK)), " ")
         .alias("chunk_text"),
    )


@query("win_distinct_sliding", oracle="""
SELECT event_id, user_id,
       CAST(count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS types_10
FROM events
""")
def win_distinct_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct count over a sliding row frame — Spark has no
    COUNT(DISTINCT) OVER, so the idiomatic form is
    size(array_distinct(collect_list() over frame)): the frame is 10
    rows, so the per-row array is bounded and stays in the window
    operator's buffer (no shuffle beyond the one partitioning
    exchange). DuckDB's native distinct window aggregate is the oracle
    twin."""
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-9, 0))
    return ev.select(
        "event_id", "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
         .cast("long").alias("types_10"),
    )


@query("win_rank_ratios", oracle="""
SELECT event_id, user_id,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value ASC NULLS FIRST, event_id)
""")
def win_rank_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile — the remaining §2.5 rank
    family. The order key carries the event_id tiebreak (house rule:
    total order) AND an explicit NULLS FIRST: Spark defaults asc →
    nulls first but DuckDB defaults NULLS LAST, so the oracle pins it.
    With a unique order key the ratios are integer/integer IEEE
    divisions — bit-identical cross-engine, emitted unrounded."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("value").asc_nulls_first(), "event_id")
    return ev.select(
        "event_id", "user_id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query("agg_mode", oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_type, cnt FROM r WHERE rn = 1
""")
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value per group with a DETERMINISTIC tiebreak
    (count desc, then lexicographic) — both engines' native mode()
    leave ties unspecified, so the portable form is count-then-rank:
    one partial-aggregated shuffle on (user, type), then a per-user
    window over ≤ |type| rows. Scale note: the window input is the
    aggregated table (groups, not events), so the second exchange
    carries cardinality |users|·|types|, not raw rows."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt"))
    w = W.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc())
    return (c.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("user_id", F.col("event_type").alias("mode_type"),
                     "cnt"))


@query("seq_transition_probs", oracle="""
WITH p AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), t AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM p WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, cnt,
       CAST((cnt * 1000000) // SUM(cnt) OVER (PARTITION BY prev_type)
            AS BIGINT) AS prob_ppm
FROM t
""")
def seq_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (sequence mining / behavioral features): lag within the
    (user, ts) ordering, count (prev→next) pairs, normalize per prev
    state. The probability is emitted as integer PPM via floored
    integer division — Spark DIV ≡ DuckDB // for non-negatives, so the
    value is exact cross-engine (house rule: never ROUND a ratio that
    can land on a .5 ulp boundary). The transition table is |types|²
    rows — the per-prev normalization window is a no-shuffle follow-on
    to the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = (ev.select("user_id", "ts", "event_id", "event_type")
           .withColumn("prev_type", F.lag("event_type").over(w))
           .filter(F.col("prev_type").isNotNull()))
    t = p.groupBy("prev_type", F.col("event_type").alias("next_type")) \
         .agg(F.count("*").alias("cnt"))
    wp = W.partitionBy("prev_type")
    return t.select(
        "prev_type", "next_type", "cnt",
        F.expr("CAST((cnt * 1000000) DIV SUM(cnt) OVER "
               "(PARTITION BY prev_type) AS BIGINT)").alias("prob_ppm"),
    )


@query("agg_cube", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: every subtotal combination in one pass (completes the
    grouping-set family next to ROLLUP/agg_grouping_sets). grouping_id
    is emitted so consumers can tell a real NULL group key from a
    subtotal row — both engines assign the first listed column the MSB,
    which the oracle pins. Same Expand-then-aggregate physical shape as
    ROLLUP: each row fans out once per grouping set, partials combine
    map-side."""
    from ..functions.exact import dsum

    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query("win_lead_nth", oracle="""
SELECT event_id, user_id,
       lead(value, 1) OVER w AS next_value,
       lead(value, 2, -1.0) OVER w AS next2_value,
       nth_value(value, 3) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_seen
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def win_lead_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead (with and without default) + nth_value — the forward-looking
    §2.5 companions to win_lag_diff. nth_value runs over an explicit
    cumulative ROWS frame on both engines (their default frames differ:
    Spark rows, DuckDB range). All three share one (user, ts) window →
    a single partitioning exchange serves the whole select."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id", "user_id",
        F.lead("value", 1).over(w).alias("next_value"),
        F.lead("value", 2, -1.0).over(w).alias("next2_value"),
        F.nth_value("value", 3).over(wc).alias("third_seen"),
    )


_BM25_TERMS = ["hash", "vector", "stream"]
_K1, _B = 1.2, 0.75


@query("text_bm25_topk", oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\r\n]+'),
                            x -> x <> '')) AS w
  FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
  WHERE w IN ('hash', 'vector', 'stream') GROUP BY doc_id, w
), dfreq AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY w
), s AS (
  SELECT tf.doc_id, tf.w,
         ((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * tf.tf * ({_K1} + 1.0)
         / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / stats.avgdl)) AS sc
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (w) CROSS JOIN stats
), piv AS (
  SELECT doc_id,
         COALESCE(MAX(CASE WHEN w = 'hash' THEN sc END), 0.0)
       + COALESCE(MAX(CASE WHEN w = 'vector' THEN sc END), 0.0)
       + COALESCE(MAX(CASE WHEN w = 'stream' THEN sc END), 0.0) AS score
  FROM s GROUP BY doc_id
)
SELECT doc_id, score FROM piv ORDER BY score DESC, doc_id LIMIT 10
""")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed term set,
    top-10 docs — the ranking half of an LLM data/RAG pipeline next to
    text_tfidf_topk.

    Cross-engine bit-exactness: the idf uses the RAW Robertson odds
    ratio (N−df+0.5)/(df+0.5) instead of its log — libm ln() drifts by
    1 ulp between engines (house rule), while +,*,/ are IEEE-exact, so
    the whole score is bit-identical and emitted UNROUNDED; production
    would wrap F.log around the ratio. The per-term sum folds in FIXED
    column order (pivot-then-add, not a float SUM whose partial order
    is nondeterministic). Scale shape: doc-length and term stats are
    aggregates over the token table; df and the 1-row corpus stats
    broadcast into the scoring join; top-k is a total-ordered LIMIT."""
    docs = load_table(spark, sf_dir, "documents")
    # diamond top: dl and tf both consume the token table — cache it so
    # the corpus is tokenized ONCE (same pattern as minhash shingling)
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("w")).cache()
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"))
    tf = (toks.filter(F.col("w").isin(_BM25_TERMS))
              .groupBy("doc_id", "w")
              .agg(F.count("*").cast("double").alias("tf")))
    dfreq = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    s = (tf.join(dl, "doc_id")
           .join(F.broadcast(dfreq), "w")
           .crossJoin(F.broadcast(stats))
           .withColumn("sc",
                       ((F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5))
                       * F.col("tf") * (_K1 + 1.0)
                       / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl")
                                               / F.col("avgdl")))))
    term_cols = [
        F.coalesce(F.max(F.when(F.col("w") == t, F.col("sc"))), F.lit(0.0))
        for t in _BM25_TERMS]
    score = term_cols[0] + term_cols[1] + term_cols[2]
    piv = s.groupBy("doc_id").agg(score.alias("score"))
    return piv.orderBy(F.col("score").desc(), "doc_id").limit(10)


@query("dedup_exact_normalized", oracle="""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS h
  FROM documents
)
SELECT h, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM n GROUP BY h
""")
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup (C4-style): lowercase, strip
    non-alphanumerics, collapse whitespace, THEN hash — catches the
    copies that raw-byte dedup_exact misses (case/punctuation
    variants); every group is emitted with its survivor + copy count
    (the fixture plants no normalized dups at sf0.01, and an empty
    HAVING-filtered result would be a vacuous oracle row — emitting all
    digests makes the check bite on every document). Shuffle key is the
    128-bit digest, not the text: the
    exchange moves 32-byte keys however large the documents are, and
    the digest distribution is uniform so the agg cannot skew. DuckDB
    regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all default (house rule)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    n = docs.select("doc_id", F.md5(norm).alias("h"))
    return n.groupBy("h").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"))


@query("vec_pairwise_cosine", oracle="""
WITH e AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
m AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
              / COUNT(x) AS DECIMAL(18,6)) AS mu
  FROM e GROUP BY label, pos),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(a.mu * b.mu) AS dot,
         SUM(a.mu * a.mu) AS na,
         SUM(b.mu * b.mu) AS nb
  FROM m a JOIN m b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label)
SELECT label_a, label_b,
       CAST(dot AS DOUBLE)
       / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))) AS cosine
FROM p
""")
def vec_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    class-confusability / cluster-quality matrix downstream of
    vec_centroid_by_label.

    Exactness chain: centroid components quantize to DECIMAL(18,6)
    fixed point, dot products and norms accumulate in DECIMAL (exact),
    and only the final cosine divides as doubles — sqrt is IEEE
    correctly-rounded on both engines, so the result is bit-identical
    UNROUNDED. Scale: the (label, pos) centroid table is |labels|·dim
    rows — tiny — so the pos-equi self-join (a.label < b.label kills
    mirror pairs) broadcasts; the quadratic term is |labels|², never
    |vectors|²."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..functions.exact import dsum

    e = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    m = e.groupBy("label", "pos").agg(
        (dsum(F.col("x").cast("double")) / F.count("x"))
        .cast("decimal(18,6)").alias("mu"))
    a, b = m.alias("a"), m.alias("b")
    p = (a.join(b, (F.col("a.pos") == F.col("b.pos"))
                & (F.col("a.label") < F.col("b.label")))
          .groupBy(F.col("a.label").alias("label_a"),
                   F.col("b.label").alias("label_b"))
          .agg(F.sum(F.col("a.mu") * F.col("b.mu")).alias("dot"),
               F.sum(F.col("a.mu") * F.col("a.mu")).alias("na"),
               F.sum(F.col("b.mu") * F.col("b.mu")).alias("nb")))
    return p.select(
        "label_a", "label_b",
        (F.col("dot").cast("double")
         / (F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double")))).alias("cosine"))


@query("data_sample_weighted", oracle="""
WITH s AS (
  SELECT doc_id, lang, n_chars,
         ((doc_id % 1000003) * 2654435761) % 1000003 % 1000000 AS h,
         LEAST(1000000, n_chars * 1500) AS w_ppm
  FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM s WHERE h < w_ppm GROUP BY lang ORDER BY lang
""")
def data_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED sampling: keep probability proportional to a
    continuous per-document score (here n_chars as the quality
    stand-in, capped at 1) — the importance-resampling step of modern
    pretraining curation, vs data_sample_stratified's per-stratum
    rates. Same portable Knuth hash (< 2^52 intermediates, so DuckDB's
    overflow-faulting BIGINT evaluates identically): no RNG, no
    shuffle, any engine recomputes the same keep set; the weight is a
    row-local expression so the filter pushes to the scan."""
    d = load_table(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % 1000003 % 1000000
    w = F.least(F.lit(1000000), F.col("n_chars") * 1500)
    return (d.filter(h < w)
             .groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_kept"),
                  F.sum("n_chars").alias("chars"),
                  F.min("doc_id").alias("first_doc"))
             .orderBy("lang"))


@query("text_bigram_novelty", oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\r\n]+'),
                     x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS b
  FROM toks WHERE len(t) >= 2
), top AS (
  SELECT b FROM (
    SELECT b, COUNT(*) AS c FROM bg GROUP BY b
    ORDER BY c DESC, b LIMIT 100)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST((CAST(SUM(CASE WHEN top.b IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000000) // COUNT(*) AS BIGINT) AS common_ppm
FROM bg LEFT JOIN top ON bg.b = top.b
GROUP BY doc_id
""")
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-overlap novelty score: what fraction of each document's
    word-bigram instances fall in the corpus's top-100 bigram table —
    low overlap flags novel/outlier text, high overlap flags
    boilerplate (the cheap n-gram-LM surrogate used for corpus QC
    before training). The rate ships as floored integer PPM (exact
    cross-engine; no float rounding). Scale: the top-k table is 100
    rows → broadcast left join onto the bigram stream; the bigram
    explode is bounded by token count; the only wide shuffles are the
    two hash aggregates. Note Spark array subscripts are 0-based vs
    DuckDB's 1-based — each side indexes its own convention."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _tokens(F.lower(F.col("text"))).alias("t")) \
            .filter(F.size("t") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t) - 2), "
            "i -> concat(t[i], ' ', t[i + 1]))")).alias("b")).cache()
    top = (bg.groupBy("b").agg(F.count("*").alias("c"))
             .orderBy(F.col("c").desc(), "b").limit(100).select("b")
             .withColumn("hit", F.lit(1)))
    return (bg.join(F.broadcast(top), "b", "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
                    .cast("long").alias("n_common"))
              .select("doc_id", "n_bigrams",
                      F.expr("CAST((n_common * 1000000) DIV n_bigrams "
                             "AS BIGINT)").alias("common_ppm")))


_GAP_US = 1_800_000_000  # 30 min session timeout, integer µs


@query("sessionize_timeout", oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, us, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_id
""")
def sessionize_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization by inactivity gap (30 min) — the canonical
    lag→flag→cumsum pattern: a gap beyond the timeout starts a new
    session, the running sum of start flags is the session id, one
    aggregate emits per-session stats. The batch twin of
    stream_session's native session window. All three stages share the
    (user_id) partitioning → ONE exchange for the whole plan; time
    arithmetic is integer µs end-to-end (no timestamp-difference float
    drift). At 100 TB this is the shape that wins: no self-join, no
    iterative merging — the cumulative sum linearizes session
    assignment in a single pass."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = ev.select("user_id", "ts", "event_id", us.alias("us")).withColumn(
        "new_s",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.col("us") - F.lag("us").over(w)) > _GAP_US), 1)
         .otherwise(0))
    wc = (W.partitionBy("user_id").orderBy("us", "event_id")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    s = g.withColumn("session_id", F.sum("new_s").over(wc).cast("long"))
    return (s.groupBy("user_id", "session_id")
             .agg(F.count("*").alias("n_events"),
                  F.min("us").alias("start_us"),
                  (F.max("us") - F.min("us")).alias("duration_us")))


@query("win_cumulative_distinct", oracle="""
SELECT event_id, user_id,
       CAST(count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS types_seen
FROM events
""")
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING distinct count ("how many distinct types has this user
    seen so far") — the cumulative companion to win_distinct_sliding.
    Spark form: size(collect_set() over cumulative frame); the state is
    the distinct SET (bounded by |event_type|, not rows seen), so the
    frame buffer stays small even over arbitrarily long histories —
    the property that makes this safe at 100 TB where a collect_list
    would grow linearly."""
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.size(F.collect_set("event_type").over(w))
         .cast("long").alias("types_seen"),
    )


@query("data_decontaminate", oracle="""
WITH n AS (
  SELECT doc_id, lang, n_chars,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS h
  FROM documents
), eval AS (
  SELECT DISTINCT h FROM n WHERE doc_id % 97 = 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM n ANTI JOIN eval USING (h)
GROUP BY lang ORDER BY lang
""")
def data_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set DECONTAMINATION: drop every training document whose
    normalized fingerprint appears in the held-out set (the doc_id%97
    grid stands in for the eval corpus) — the step that keeps
    benchmarks out of pretraining data. Shape: the eval fingerprint
    table is tiny relative to the corpus → broadcast ANTI join, so the
    100 TB side never shuffles; fingerprints reuse the
    dedup_exact_normalized normalization so near-identical copies
    (case/punctuation) are caught, not just byte-equal ones."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    n = docs.select("doc_id", "lang", "n_chars", F.md5(norm).alias("h"))
    ev = n.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    return (n.join(F.broadcast(ev), "h", "left_anti")
             .groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_kept"),
                  F.sum("n_chars").alias("chars"))
             .orderBy("lang"))


@query("source_custom_python", oracle="""
SELECT g AS i, (g * g) % 97 AS v
FROM unnest(generate_series(0, 999)) AS t(g)
""")
def source_custom_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (PySpark 4 datasource API) — the
    §2.1 extension point for feeds Spark cannot read natively. The
    source declares 4 independent input partitions (one task each, like
    parquet row-groups) and yields ONE Arrow RecordBatch per partition
    (vectorized path, not per-row tuples). The grid is deterministic
    integer arithmetic, so the oracle recomputes it exactly in SQL."""
    from ..sources.pydatasource import SynthGridDataSource

    spark.dataSource.register(SynthGridDataSource)
    return (spark.read.format("synthgrid")
            .option("rows", 1000).option("partitions", 4).load())


def _arrow_group_stats(tbl):
    """pyarrow grouped-map kernel: per-group count + exact int64 sum."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pa.table({
        "user_id": pa.array([tbl.column("user_id")[0].as_py()], pa.int64()),
        "n": pa.array([tbl.num_rows], pa.int64()),
        "sum_event_id": pa.array([pc.sum(tbl.column("event_id")).as_py()],
                                 pa.int64()),
    })


@query("udf_grouped_arrow", oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events GROUP BY user_id
""")
def udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow grouped-map — the zero-copy sibling of
    applyInPandas (§2.12): the kernel sees the raw Arrow table, no
    pandas conversion on either side. Stats are integer count+sum, so
    unlike the float-reduction kernels this one is fully
    oracle-checkable (int64 addition is exact in any order). Pre-select
    trims the Arrow payload to the 2 needed columns."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    return ev.groupBy("user_id").applyInArrow(
        _arrow_group_stats, schema="user_id long, n long, sum_event_id long")
