"""Round-3 additions: exact-distinct bitmap sketches, approximate
top-k, subword-vocabulary induction, BFS reachability levels, storage
maintenance (compaction, Z-order clustering, dynamic partition
pruning, runtime bloom-filter joins), the Spark-4 transformWithState
streaming surface (protobuf-gated), a real @udtf table function, XML
round trip, n-gram eval decontamination, CEP pattern matching,
sqrt-temperature source mixing, seasonal decomposition, and the
end-to-end LLM data-prep composite.

Registered AFTER q_extras (tail of the priority order in
plans/__init__.py): the driver's per-round verification budget first
re-reaches everything not yet checked, and these ids rotate into the
prefix on the following round.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import DEC, dsum
from .registry import query, scratch_dir


# ---------------------------------------------------------------------------
# Exact distinct counting via mergeable BITMAPS (Spark 4 bitmap_* aggs)
# ---------------------------------------------------------------------------

@query("agg_bitmap_distinct", oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""")
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through mergeable roaring-style bitmaps
    (Spark 4 `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`)
    — the precompute-once/merge-anywhere contract of
    agg_hll_sketch_merge but with zero approximation error, for key
    domains dense enough to bitmap (user ids here).

    Three levels prove merge ≡ rebuild: per-(type, day, bucket) bitmaps
    are built first (the daily partial a 100 TB pipeline would
    materialize), OR-merged up to (type, bucket), then bucket
    cardinalities sum to the exact answer — `bitmap_bucket_number`
    shards the key space into 32k-bit segments, so a sparse 8-byte key
    domain never allocates a giant bitmap. The oracle recomputes
    COUNT(DISTINCT) directly from raw rows: a hash match proves the
    daily-partial route is lossless. All JVM-side aggregate
    expressions; binary state never reaches Python."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
                 "event_type",
                 F.to_date("ts").alias("day"),
                 F.expr("bitmap_bucket_number(user_id)").alias("bkt"))
               .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
                     .alias("bm")))
    merged = (daily.groupBy("event_type", "bkt")
                   .agg(F.expr("bitmap_or_agg(bm)").alias("bm")))
    return (merged.groupBy("event_type")
                  .agg(F.expr("CAST(SUM(bitmap_count(bm)) AS BIGINT)")
                        .alias("n_users")))


# ---------------------------------------------------------------------------
# Approximate top-k (sketch-based heavy hitters)
# ---------------------------------------------------------------------------

@query("agg_approx_topk", oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS BIGINT)
         AS rnk
FROM events GROUP BY event_type
QUALIFY rnk <= 3
""")
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: `approx_top_k` tracks frequent items
    in bounded memory (one pass, mergeable partials) — the
    streaming-friendly alternative to count-then-rank when the item
    domain is huge. Here the tracked-item budget (default 10000) far
    exceeds the event_type cardinality, so the sketch degenerates to
    EXACT counts and the plain GROUP BY oracle is a legitimate twin —
    the same query at 100 TB keeps this plan shape while count-then-rank
    would shuffle the full (item, count) domain. The sketch is asked
    for 10 items (slack beyond the 3 reported) so a count tie at the
    rank-3 boundary cannot hide the item the deterministic
    (count desc, item) re-rank would pick — the filter rnk <= 3 then
    applies the same total order the oracle uses."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
              .select(F.explode("tk").alias("e"))
              .select(F.col("e.item").alias("item"),
                      F.col("e.count").alias("cnt"))
              .withColumn("rnk", F.row_number().over(
                  W.orderBy(F.desc("cnt"), "item")).cast("long"))
              .filter(F.col("rnk") <= 3))


# ---------------------------------------------------------------------------
# Subword-vocabulary induction (char-trigram seed vocabulary)
# ---------------------------------------------------------------------------

_VOCAB_PREFIX = 512   # chars of each doc scanned (bounds cost per doc)
_VOCAB_K = 32


@query("vocab_topk_subwords", oracle=f"""
WITH d AS (
  SELECT substr(lower(text), 1, {_VOCAB_PREFIX}) AS t FROM documents
), s AS (
  SELECT t, unnest(generate_series(1, length(t) - 2)) AS pos
  FROM d WHERE length(t) >= 3
), g AS (
  SELECT substr(t, pos, 3) AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM s GROUP BY gram
)
SELECT gram, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS BIGINT) AS rnk
FROM g QUALIFY rnk <= {_VOCAB_K}
""")
def vocab_topk_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-vocabulary induction: the character-n-gram frequency
    pass that seeds BPE/SentencePiece tokenizer training, as a pure
    expression plan — lowercase, bound to a {_VOCAB_PREFIX}-char prefix
    per doc (cost per row is O(prefix), independent of document
    length), explode the trigram start grid, hash-aggregate counts,
    keep the top {_VOCAB_K} with a deterministic (count, gram)
    tiebreak. At 100 TB the (gram, count) domain after the partial agg
    is tiny (≤ charset³), so the final rank stage is driver-scale
    regardless of corpus size — the same reason agg_mode and
    stream_windowed_topk count-then-rank. Both engines' `substr` are
    character (not byte) indexed, so multibyte text agrees."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.substring(F.lower("text"), 1, _VOCAB_PREFIX)
    d = docs.select(t.alias("t")).filter(F.length("t") >= 3)
    grams = (d.select("t", F.explode(
                  F.sequence(F.lit(1), F.length("t") - 2)).alias("pos"))
               .select(F.expr("substr(t, pos, 3)").alias("gram"))
               .groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")))
    return (grams.withColumn("rnk", F.row_number().over(
                    W.orderBy(F.desc("cnt"), "gram")).cast("long"))
                 .filter(F.col("rnk") <= _VOCAB_K)
                 .select("gram", "cnt", "rnk"))


# ---------------------------------------------------------------------------
# BFS reachability levels (iterative frontier expansion)
# ---------------------------------------------------------------------------

_BFS_MAX_LEVEL = 3


@query("graph_bfs_levels", oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION
  SELECT DISTINCT -l_suppkey AS src, o_custkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bfs AS (
  SELECT c_custkey AS node, 0 AS level
  FROM customer WHERE c_nationkey = 0
  UNION
  SELECT e.dst AS node, bfs.level + 1 AS level
  FROM bfs JOIN e ON bfs.node = e.src
  WHERE bfs.level < {_BFS_MAX_LEVEL}
)
SELECT node, CAST(MIN(level) AS BIGINT) AS level
FROM bfs GROUP BY node
""")
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop levels over the customer↔supplier purchase
    graph (suppliers as negative node ids), seeded from nation-0
    customers, capped at {_BFS_MAX_LEVEL} hops — the reachability /
    shortest-hop family next to PageRank (fixed-point numeric) and
    connected components (star contraction).

    Iterative frontier expansion: visited is LEFT ANTI-joined out of
    each next frontier, so a node's recorded level is its first (= min)
    hop count; the edge set is computed once and cached; lineage is cut
    per round with localCheckpoint (same discipline as
    operators/graph.py). Each round is one equi-join + distinct — at
    100 TB both shuffle on node id, and the frontier shrinks
    geometrically after the first hops in power-law graphs. The oracle
    is the textbook recursive-CTE BFS with UNION (not UNION ALL)
    semantics, whose (node, level) dedup bounds path explosion; MIN per
    node proves both sides agree on first-reach levels."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    pairs = (orders.join(li, orders.o_orderkey == li.l_orderkey)
                   .select(F.col("o_custkey").alias("c"),
                           (-F.col("l_suppkey")).alias("s"))
                   .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
                  .unionByName(
                      pairs.select(F.col("s").alias("src"),
                                   F.col("c").alias("dst")))
                  .cache())
    visited = (cust.filter(F.col("c_nationkey") == 0)
                   .select(F.col("c_custkey").alias("node"))
                   .withColumn("level", F.lit(0).cast("long")))
    frontier = visited.select("node")
    for lvl in range(1, _BFS_MAX_LEVEL + 1):
        nxt = (frontier.join(edges, frontier.node == edges.src)
                       .select(F.col("dst").alias("node")).distinct()
                       .join(visited.select("node"), "node", "left_anti")
                       .withColumn("level", F.lit(lvl).cast("long"))
                       .localCheckpoint(eager=True))
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    # Every frontier was materialized eagerly through the cached edge
    # table (localCheckpoint above), so the cache can be released now —
    # the returned plan reads only checkpoints and the seed scan.
    edges.unpersist()
    return visited


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state streaming)
# ---------------------------------------------------------------------------

def _have_protobuf() -> bool:
    """transformWithStateInPandas talks to the JVM state server over a
    protobuf protocol; the pure-Python `protobuf` package is NOT
    pip-installed in this container (no installs allowed), but
    pbcompat can recover a usable runtime from the machine-local
    google-cloud-sdk (see pbcompat/__init__.py). Gate the registration
    on that discovery so the operator exists wherever EITHER source of
    the dependency does, and is honestly absent elsewhere instead of
    registering a guaranteed-fail. Called at plans-import time, which
    precedes SparkSession creation in every entry path — required so
    the worker-shim PYTHONPATH is live before the JVM captures env."""
    from ..pbcompat import ensure_protobuf
    if not ensure_protobuf():
        return False
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except ImportError:
        return False


_TWS_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(CASE WHEN NOT isnan(value) THEN value END) AS max_value
FROM events GROUP BY user_id
"""
# NaN guard (round-9 nulls sweep): the processor's pandas dropna treats
# NaN as missing, while a bare SQL MAX would return NaN (both engines
# sort it greatest) — the CASE pins MAX-over-non-NaN on both sides.


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's `transformWithStateInPandas` — the successor of
    applyInPandasWithState (named state variables, timers, RocksDB
    stores): per-user running (count, max) state updated across 4
    replayed micro-batches, emitting the running aggregate each batch.
    The registered result reduces each user to their LAST emission
    (n_events is monotone, so max n_events = final state), which the
    plain GROUP BY oracle must reproduce exactly — proving the
    incremental state path converges to the batch answer, the same
    merge ≡ rebuild contract as stream_cdc_apply. Runs on the RocksDB
    state store (required by the API; also the 100 TB choice — state
    off-heap per executor, not JVM heap)."""
    from ..streaming import runner
    ev = load_table(spark, sf_dir, "events")
    out = runner.run_transform_with_state(spark, ev)
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (out.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("user_id", "n_events", "max_value"))


if _have_protobuf():  # see _have_protobuf docstring
    stream_transform_with_state = query(
        "stream_transform_with_state",
        oracle=_TWS_ORACLE)(stream_transform_with_state)


# ---------------------------------------------------------------------------
# Small-file compaction (storage maintenance)
# ---------------------------------------------------------------------------

def _compaction_paths() -> tuple[str, str]:
    base = scratch_dir("compaction")
    return os.path.join(base, "raw"), os.path.join(base, "compacted")


@query("sink_compaction", oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
FROM events GROUP BY day
""")
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION — the table-maintenance pass every
    long-running ingest needs: a streaming/batched landing zone leaves
    many small files per partition (here: 8-way repartition before a
    day-partitioned write simulates 8 concurrent writers), then the
    compactor rewrites each day to ONE right-sized file by
    repartitioning ON the partition column so every day's rows land in
    a single task before the partitioned write. Reading the compacted
    table back and aggregating proves the rewrite is lossless (row
    counts AND distinct ids per day — an accidental dedup or dropped
    file fails the id count). At 100 TB the same plan compacts one
    partition at a time with dynamic partition overwrite
    (sink_dynamic_overwrite) instead of a full rewrite; target file
    size is then rows-per-task via maxRecordsPerFile rather than one
    task per day. File counts before/after are asserted in
    tests/test_plan_shape.py."""
    raw_dir, compacted_dir = _compaction_paths()
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value",
                  F.to_date("ts").alias("day")))
    ev.repartition(8).write.partitionBy("day").mode("overwrite").parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    (raw.repartition("day")
        .write.partitionBy("day").mode("overwrite").parquet(compacted_dir))
    back = spark.read.parquet(compacted_dir)
    return (back.groupBy(F.col("day").cast("date").alias("day"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.countDistinct("event_id").alias("n_ids")))


# ---------------------------------------------------------------------------
# Z-order clustering key (multi-dimensional data layout)
# ---------------------------------------------------------------------------

def _zorder_sql(u: str, v: str, bits: int, dialect: str) -> str:
    """Bit-interleave expression for a 2-D Z-address, generated for
    both dialects from one definition: Spark spells shifts as
    shiftleft/shiftright functions, DuckDB as << / >> operators."""
    terms = []
    for i in range(bits):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({u}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({v}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({u} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({v} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_ZU = "(user_id & 65535)"
_ZV = ("(CAST(FLOOR(COALESCE(CASE WHEN isnan(value) THEN NULL "
       "ELSE value END, 0)) AS BIGINT) & 65535)")  # NaN ≡ missing → bucket 0 (round-9 nulls sweep)
_ZK = 64


@query("cluster_zorder", oracle=f"""
WITH z AS (
  SELECT event_id, user_id,
         CAST(FLOOR(COALESCE(CASE WHEN isnan(value) THEN NULL
                             ELSE value END, 0)) AS BIGINT)
           & 65535 AS vbkt,
         {_zorder_sql(_ZU, _ZV, 16, 'duck')} AS zkey
  FROM events
)
SELECT event_id, user_id, vbkt, CAST(zkey AS BIGINT) AS zkey
FROM z ORDER BY zkey, event_id LIMIT {_ZK}
""")
def cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering key — Delta/Iceberg OPTIMIZE ZORDER's core:
    interleaving the bits of two dimensions (user_id, value bucket)
    into one address so that range-partitioning + sorting by it
    co-locates rows that are close in BOTH dimensions. Files written in
    zkey ranges then carry narrow min/max stats on *each* dimension, so
    a predicate on either column prunes most files at scan time — the
    layout lever for 100 TB selective scans that single-column sort
    cannot provide. The key is pure integer bit arithmetic (exact on
    both engines, generated from one definition per dialect); the
    registered result pins the key computation with a total order, and
    the actual clustered write (repartitionByRange(zkey) →
    sortWithinPartitions → per-file min/max narrowing vs a random
    layout) is asserted in tests/test_plan_shape.py."""
    ev = load_table(spark, sf_dir, "events")
    z = ev.select(
        "event_id", "user_id",
        F.expr(_ZV).alias("vbkt"),
        F.expr(_zorder_sql(_ZU, _ZV, 16, "spark")).cast("long").alias("zkey"))
    return z.orderBy("zkey", "event_id").limit(_ZK)


# ---------------------------------------------------------------------------
# Dynamic partition pruning over a partitioned fact table
# ---------------------------------------------------------------------------

@query("join_dpp_partitioned", oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS DECIMAL(30,0))) * 0.01
                 AS DECIMAL(38,12)) AS VARCHAR) AS revenue
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') <= '1996-12'
GROUP BY month
""")
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the fact table is laid out
    partitioned-by-month on disk (the 100 TB landing layout), and a
    filtered dimension join prunes fact *partitions at runtime* — the
    dim side's month filter is turned into a subquery predicate on the
    fact's partition column, so unneeded months are never read even
    though the month list is only known after planning. The dim here is
    the distinct-month table filtered to the first two fixture years
    (24 of ~80 months — a REAL prune: the scan reads ≤30% of the
    partitions; the round-5 cutoff of '2024-03' was vacuous against the
    1995–2001 order span and pruned nothing). When the sf_dir already
    ships the landing layout (testdata_derived/sf1p: orders.parquet/ is
    a month=YYYY-MM directory tree), it is read DIRECTLY — no per-run
    scratch rewrite; single-file fixtures fall back to writing the
    partitioned copy once into scratch. The plan-shape test asserts
    `dynamicpruning` appears in the physical plan; the oracle computes
    the same rollup straight from raw orders — a hash match proves
    pruning dropped no qualifying rows. Partition values travel as
    'yyyy-MM' strings (stable across engines and directory encoding)."""
    fixture_dir = os.path.join(sf_dir, "orders.parquet")
    if os.path.isdir(fixture_dir):
        fact = spark.read.parquet(fixture_dir)
    else:
        orders = load_table(spark, sf_dir, "orders")
        fact_dir = os.path.join(scratch_dir("dpp"), "orders_by_month")
        (orders.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
               .write.partitionBy("month").mode("overwrite").parquet(fact_dir))
        fact = spark.read.parquet(fact_dir)
    months = (fact.select("month").distinct()
                  .filter(F.col("month") <= "1996-12"))
    joined = fact.join(F.broadcast(months), "month")
    return (joined.groupBy("month")
                  .agg(F.count(F.lit(1)).alias("n_orders"),
                       # integer-cents exact sum (round 8, the
                       # sql_tpch_q1 path: o_totalprice is exact 2-dp,
                       # pinned by tests/test_decimal_path.py) —
                       # digit-exact at any magnitude, hash-stable
                       # string emission, zero per-row string work
                       F.expr(
                           "CAST(CAST(SUM(CAST(CAST(ROUND("
                           "o_totalprice * 100) AS BIGINT)"
                           " AS DECIMAL(30,0))) * 0.01"
                           " AS DECIMAL(38,12)) AS STRING)")
                       .alias("revenue")))


# ---------------------------------------------------------------------------
# Runtime bloom-filter join (shuffle-side row-level runtime filtering)
# ---------------------------------------------------------------------------

@query("join_bloom_runtime_filter", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""")
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER join: when a selective filter sits on one
    side of a shuffle join, Catalyst builds a bloom filter from that
    side's join keys at runtime and pushes `might_contain` onto the
    OTHER side's scan — rows that cannot match are dropped before the
    shuffle, which is the difference between shuffling 100 TB of fact
    rows and shuffling the ~selectivity fraction that survives. DPP's
    row-level sibling: DPP prunes whole partitions via the partition
    column; the bloom filter prunes rows on any join key. Local
    thresholds are tuned inside the callable (the fixture tables are
    below the 10 MB defaults) and broadcast is disabled so the shuffle
    join actually exists; the filtered aggregate is materialized under
    those confs via localCheckpoint, then every conf is restored.
    Injection is asserted in tests/test_plan_shape.py; the oracle
    proves the filter is semantically invisible (pure pruning)."""
    restore = {}
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in tuned.items():
        try:
            restore[k] = spark.conf.get(k)
        except Exception:
            restore[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = (load_table(spark, sf_dir, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        out = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                 .groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("n_items"),
                      F.sum(F.col("l_extendedprice").cast("decimal(38,12)"))
                       .cast("double").alias("total")))
        return out.localCheckpoint(eager=True)
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# N-gram overlap decontamination (partial-overlap eval leakage)
# ---------------------------------------------------------------------------

_DECON_N = 4  # tokens per shingle: GPT-3 used 13 on web-scale text; the
              # synthetic docs are short with a narrow vocabulary, and 4 is
              # the largest n that yields real positives at sf0.01 (8 docs)
              # so the oracle check bites instead of matching on all-false


@query("text_contamination_ngram", oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')), ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         array_to_string(toks[i:i + {_DECON_N - 1}], ' ') AS gram
  FROM t, unnest(generate_series(1, len(toks) - {_DECON_N - 1})) AS s(i)
  WHERE len(toks) >= {_DECON_N}
), eval_grams AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), contaminated AS (
  SELECT DISTINCT g.doc_id FROM g SEMI JOIN eval_grams USING (gram)
  WHERE g.doc_id % 97 <> 0
)
SELECT d.doc_id,
       CASE WHEN c.doc_id IS NOT NULL THEN true ELSE false END AS contaminated
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % 97 <> 0
""")
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM OVERLAP decontamination — the GPT-3-style eval-leakage
    check that `data_decontaminate`'s exact fingerprint cannot do: a
    training doc is contaminated if it shares ANY {_DECON_N}-token
    normalized shingle with the held-out set (doc_id % 97 = 0, same
    convention as data_decontaminate), catching partial copies and
    quotations, not just whole-document duplicates.

    One tokenize pass (C4 normalization), bounded shingle explode, then
    a SEMI join of training shingles against the DISTINCT eval-shingle
    table. The eval side carries NO static broadcast hint (round 8,
    VERDICT r7 #3): a production eval suite's gram set is genuinely
    small and AQE promotes it to a broadcast at runtime from ACTUAL
    shuffle bytes (the session's two-threshold posture), while this
    fixture's %97 slice — 1% of the corpus's distinct grams, which at
    100 TB is way past any broadcast threshold — would make a forced
    hint a driver OOM; unhinted, that regime degrades gracefully to a
    shuffle semi-join. Output is a per-training-doc boolean (COALESCEd,
    per the registry boolean house rule). Flagging (not dropping)
    keeps the decision auditable."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "))
    toks = docs.select(
        "doc_id", F.filter(F.split(norm, " "), lambda x: x != "").alias("toks"))
    grams = (toks.filter(F.size("toks") >= _DECON_N)
                 .select("doc_id", F.explode(
                     F.sequence(F.lit(0), F.size("toks") - _DECON_N))
                     .alias("i"), "toks")
                 .select("doc_id", F.array_join(
                     F.slice("toks", F.col("i") + 1, _DECON_N), " ")
                     .alias("gram")))
    eval_grams = (grams.filter(F.col("doc_id") % 97 == 0)
                       .select("gram").distinct())
    contaminated = (grams.filter(F.col("doc_id") % 97 != 0)
                         .join(eval_grams, "gram", "left_semi")
                         .select("doc_id").distinct())
    return (docs.filter(F.col("doc_id") % 97 != 0)
                .join(contaminated.withColumn("c", F.lit(True)),
                      "doc_id", "left")
                .select("doc_id",
                        F.coalesce("c", F.lit(False)).alias("contaminated")))


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-style V-shape detection)
# ---------------------------------------------------------------------------

@query("win_pattern_match", oracle="""
WITH s AS (
  SELECT user_id, event_id, value, ts,
         lag(value, 2) OVER w AS v0,
         lag(value, 1) OVER w AS v1,
         lag(event_id, 2) OVER w AS e0
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, e0 AS start_event_id, event_id AS end_event_id,
       v0, v1, value AS v2
FROM s
WHERE v0 > v1 AND v1 IS NOT NULL AND value >= 1.5 * v1 AND v0 IS NOT NULL
""")
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential PATTERN MATCHING over ordered per-user event series —
    the MATCH_RECOGNIZE / CEP shape (Flink's bread and butter) done as
    window expressions: a V-shape episode is a drop (v0 > v1) followed
    by a rebound to ≥ 1.5×the trough within the next event. Fixed-length
    patterns compile to a bank of lag() columns over ONE window spec —
    one shuffle on user_id, no self-joins, no state machine; at 100 TB
    the pattern bank rides the same exchange as any other per-user
    window op. (Variable-length patterns are the
    sessionize/streaks-islands family — cumulative flags over the same
    partitioning.) Comparisons and the 1.5× threshold are exact IEEE
    arithmetic — no rounding needed."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_id", "value",
        F.lag("value", 2).over(w).alias("v0"),
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("event_id", 2).over(w).alias("e0"))
    return (s.filter((F.col("v0") > F.col("v1"))
                     & (F.col("value") >= 1.5 * F.col("v1")))
             .select("user_id", F.col("e0").alias("start_event_id"),
                     F.col("event_id").alias("end_event_id"),
                     "v0", "v1", F.col("value").alias("v2")))


# ---------------------------------------------------------------------------
# Python UDTF: tokenizer with character spans (real @udtf table function)
# ---------------------------------------------------------------------------

@query("udtf_python_spans", oracle="""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
           ' +', ' ', 'g')) AS t
  FROM documents WHERE doc_id % 20 = 0
), toks AS (
  SELECT doc_id,
         unnest(string_split(t, ' ')) AS token,
         generate_subscripts(string_split(t, ' '), 1) - 1 AS tok_idx
  FROM n WHERE t <> ''
)
SELECT doc_id, CAST(tok_idx AS INT) AS tok_idx, token,
       CAST(SUM(length(token) + 1) OVER (
              PARTITION BY doc_id ORDER BY tok_idx
              ROWS UNBOUNDED PRECEDING) - length(token) - 1 AS INT)
         AS start_char
FROM toks
""")
def udtf_python_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python UDTF (`@udtf`, PySpark ≥ 3.5) — the table-function
    surface beyond `udtf_expand`'s explode(sequence) rewrite: one input
    row yields N output rows computed imperatively. The function
    tokenizes C4-normalized text and emits each token WITH its
    character offset (the tokenizer-with-spans shape NER/labeling
    pipelines need, where offsets must refer back into the source
    string — awkward as pure SQL, natural as a generator). Offsets over
    single-space-normalized text are prefix sums of token lengths, so
    the DuckDB twin reproduces them exactly with a window; a hash match
    pins the UDTF's row expansion AND its arithmetic. Subset to every
    20th doc: per-row Python generators are the slowest UDF class —
    the op demonstrates the surface; wide fan-out belongs to
    explode/mapInPandas (see multimodal_frame_sample)."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType=("doc_id bigint, tok_idx int, token string, "
                      "start_char int"))
    class TokenizeWithSpans:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF protocol
            t = _re.sub(r" +", " ",
                        _re.sub(r"[^a-z0-9 ]", "", (text or "").lower())).strip()
            if not t:
                return
            pos = 0
            for i, tok in enumerate(t.split(" ")):
                yield doc_id, i, tok, pos
                pos += len(tok) + 1

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0).select("doc_id", "text"))
    view = f"__udtf_docs_{abs(hash(sf_dir)) % 10**8}"
    docs.createOrReplaceTempView(view)
    spark.udtf.register("tokenize_with_spans", TokenizeWithSpans)
    return spark.sql(f"""
        SELECT t.doc_id, t.tok_idx, t.token, t.start_char
        FROM {view} d, LATERAL tokenize_with_spans(d.doc_id, d.text) t
    """)


# ---------------------------------------------------------------------------
# XML sink/scan round trip (Spark 4 built-in XML source)
# ---------------------------------------------------------------------------

@query("sink_xml", oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS total_value
FROM events WHERE value IS NOT NULL AND NOT isnan(value)
GROUP BY event_type
""")
def sink_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/scan round trip — the XML source became a BUILT-IN
    format in Spark 4 (StAX reader, rowTag streaming, schema-explicit
    like every other source here). Write events as <row> elements, read
    back with the declared schema, aggregate; equality with the
    parquet-sourced oracle proves the round trip is lossless and
    type-faithful. NULL values are filtered first: an XML element with
    a null field round-trips as an ABSENT element, which is fine for
    the type system but makes null-vs-empty distinctions
    format-dependent — the filter keeps the contract crisp. At 100 TB
    XML is an ingest-edge format (feeds land in it), never a working
    format — one pass in, columnar out; this op is that pass."""
    from pyspark.sql import types as T
    out = os.path.join(scratch_dir("sink_xml"), "events")
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value"))
          .select("event_id", "event_type", "value"))
    (ev.write.mode("overwrite").format("xml")
       .option("rootTag", "events").option("rowTag", "row").save(out))
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    back = (spark.read.format("xml").schema(schema)
                 .option("rowTag", "row").load(out))
    return (back.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(38,12)"))
                      .cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (sqrt temperature sampling, T=2)
# ---------------------------------------------------------------------------

_MIX_HASH = "((doc_id % 1000003) * 2654435761) % 1000003 % 1000000"


@query("data_mix_temperature", oracle=f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total, MAX(SQRT(CAST(n AS DOUBLE))) AS mx
  FROM s
), r AS (
  SELECT source, n,
         CAST(FLOOR(1000000.0 * SQRT(CAST(n AS DOUBLE)) / mx) AS BIGINT)
           AS rate_ppm
  FROM s, tot
)
SELECT d.source, r.n AS n_docs, r.rate_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM documents d JOIN r ON d.source = r.source
WHERE {_MIX_HASH} < r.rate_ppm
GROUP BY d.source, r.n, r.rate_ppm
""")
def data_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED source mixing at T = 2 (the mT5 "square-root
    sampling" setting): each source's keep-rate ∝ √(its share), scaled
    so the largest source keeps everything — the standard pretraining
    rebalance that up-weights small/rare sources without discarding the
    head entirely. T = 2 is chosen deliberately: rates derive through
    SQRT and division (IEEE-exact cross-engine) where a general
    share^(1/T) needs pow() whose 1-ulp libm drift could flip a
    hash-gate comparison. Gating reuses the portable Knuth hash of
    data_split_hash — RNG-free, partitioning-independent, reproducible
    — quantized to integer PPM via FLOOR so the gate compares integers.
    Two tiny aggregates (per-source counts) broadcast back onto the
    corpus scan; the corpus itself never shuffles, and the gate pushes
    to the scan as an expression filter."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = s.agg(F.max(F.sqrt(F.col("n").cast("double"))).alias("mx"))
    r = (s.crossJoin(F.broadcast(tot))
          .select("source", "n",
                  F.floor(1_000_000.0 * F.sqrt(F.col("n").cast("double"))
                          / F.col("mx")).cast("long").alias("rate_ppm")))
    h = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % 1000003 % 1000000
    return (docs.join(F.broadcast(r), "source")
                .filter(h < F.col("rate_ppm"))
                .groupBy("source", F.col("n").alias("n_docs"), "rate_ppm")
                .agg(F.count(F.lit(1)).alias("n_sampled")))


# ---------------------------------------------------------------------------
# Seasonal decomposition (trend / seasonal / residual on an hourly grid)
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_TREND_HALF = 12  # centered ±12 h moving-average trend window


@query("ts_seasonal_decompose", oracle=f"""
WITH b AS (
  SELECT event_type, (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS hour_us, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), a AS (
  SELECT event_type, hour_us,
         {{dsum}} / CAST(COUNT(value) AS DOUBLE) AS v
  FROM b GROUP BY event_type, hour_us
), g AS (
  SELECT event_type, unnest(generate_series(mn, mx, {_HOUR_US})) AS hour_us
  FROM (SELECT event_type, MIN(hour_us) AS mn, MAX(hour_us) AS mx
        FROM a GROUP BY event_type)
), j AS (
  SELECT g.event_type, g.hour_us, a.v
  FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.hour_us = a.hour_us
), t AS (
  SELECT event_type, hour_us, v,
         CAST(SUM(CAST(v AS DECIMAL(38,12))) OVER w AS DOUBLE)
           / CAST(COUNT(v) OVER w AS DOUBLE) AS trend
  FROM j
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN {_TREND_HALF} PRECEDING AND {_TREND_HALF} FOLLOWING)
)
SELECT event_type,
       CAST((hour_us // {_HOUR_US}) % 24 AS BIGINT) AS hod,
       CAST(COUNT(v - trend) AS BIGINT) AS n_hours,
       ROUND(CAST(SUM(CAST(v - trend AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(v - trend) AS DOUBLE), 6) AS seasonal
FROM t GROUP BY event_type, hod
""".format(dsum="CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)"))
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical SEASONAL DECOMPOSITION (the moving-average half of
    STL): hourly averages per event_type on a GAP-FILLED grid (the
    time_bucket_gapfill idiom — bounded explode of the observed span),
    trend = centered ±{_TREND_HALF} h moving average, seasonal index =
    mean detrended residual per hour-of-day. Three stages share the
    event_type partitioning: bucket-agg, one window pass, one final
    agg — two shuffles total, no UDF, and the only fan-out is the
    bounded grid.

    Exactness discipline: bucket averages and the trend window carry
    DECIMAL(38,12) sums (frame content is deterministic but engines'
    in-frame summation order is not guaranteed — decimal sums are
    order-free); trend and residual assemble in IEEE doubles from
    identical operands; the published seasonal index rounds at 6 dp.
    Missing grid hours contribute NULL — excluded from both the trend
    average (COUNT(v) OVER) and the seasonal mean on both engines."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    hour = F.expr(f"(unix_micros(ts) div {_HOUR_US}) * {_HOUR_US}")
    a = (ev.select("event_type", hour.alias("hour_us"), "value")
           .groupBy("event_type", "hour_us")
           .agg((dsum("value") / F.count("value").cast("double")).alias("v")))
    rng = a.groupBy("event_type").agg(F.min("hour_us").alias("mn"),
                                      F.max("hour_us").alias("mx"))
    grid = rng.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.lit(_HOUR_US))).alias("hour_us"))
    j = grid.join(a, ["event_type", "hour_us"], "left")
    w = (W.partitionBy("event_type").orderBy("hour_us")
          .rowsBetween(-_TREND_HALF, _TREND_HALF))
    t = j.select(
        "event_type", "hour_us", "v",
        (F.sum(F.col("v").cast(DEC)).over(w).cast("double")
         / F.count("v").over(w).cast("double")).alias("trend"))
    resid = F.col("v") - F.col("trend")
    return (t.groupBy(
                "event_type",
                ((F.col("hour_us") / _HOUR_US).cast("long") % 24).alias("hod"))
             .agg(F.count(resid).alias("n_hours"),
                  F.round(F.sum(resid.cast(DEC)).cast("double")
                          / F.count(resid).cast("double"), 6)
                   .alias("seasonal")))


# ---------------------------------------------------------------------------
# End-to-end LLM data-prep pipeline (the LLM sibling of hrv_pipeline_full)
# ---------------------------------------------------------------------------

_PREP_MIN_TOK, _PREP_MAX_TOK = 10, 5000
_PREP_PACK = 512  # token budget per pack


@query("llm_prep_pipeline_full", oracle=f"""
WITH base AS (
  SELECT doc_id, source,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, source, norm,
         list_filter(string_split(norm, ' '), x -> x <> '') AS toks
  FROM base
), quality AS (
  SELECT doc_id, source, norm, toks, len(toks) AS n_tok
  FROM tok
  WHERE len(toks) BETWEEN {_PREP_MIN_TOK} AND {_PREP_MAX_TOK}
), dedup AS (
  SELECT * FROM quality
  QUALIFY row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) = 1
), grams AS (
  SELECT doc_id, array_to_string(toks[i:i + 3], ' ') AS gram
  FROM dedup, unnest(generate_series(1, len(toks) - 3)) AS s(i)
), eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
), clean AS (
  SELECT d.* FROM dedup d
  WHERE d.doc_id % 97 <> 0
    AND NOT EXISTS (SELECT 1 FROM grams g SEMI JOIN eval_grams e
                    USING (gram) WHERE g.doc_id = d.doc_id)
), shares AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY source
), rates AS (
  SELECT source, n,
         CAST(FLOOR(1000000.0 * SQRT(CAST(n AS DOUBLE))
                    / (SELECT MAX(SQRT(CAST(n AS DOUBLE))) FROM shares))
              AS BIGINT) AS rate_ppm
  FROM shares
), mixed AS (
  SELECT c.doc_id, c.source, c.n_tok
  FROM clean c JOIN rates r ON c.source = r.source
  WHERE ((c.doc_id % 1000003) * 2654435761) % 1000003 % 1000000 < r.rate_ppm
)
SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(COALESCE(SUM(n_tok) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {_PREP_PACK} AS BIGINT) AS pack_id,
       CAST(COALESCE(SUM(n_tok) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            % {_PREP_PACK} AS BIGINT) AS pack_offset
FROM mixed
""")
def llm_prep_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END LLM data-prep chain as ONE composed plan — the
    LLM-pipeline sibling of hrv_pipeline_full, proving the stages a
    pretraining corpus actually flows through compose inside a single
    Catalyst query: (1) C4-normalize + tokenize ONCE (the token array
    is carried as a projected column through every stage — no second
    tokenize anywhere), (2) token-count quality gate
    [{_PREP_MIN_TOK}, {_PREP_MAX_TOK}], (3) normalization-aware exact
    dedup (md5 digest, keep lowest doc_id), (4) n-gram-overlap eval
    decontamination (4-token shingles vs the doc_id %% 97 held-out
    set; eval docs themselves dropped), (5) sqrt-temperature source
    mixing with rates computed ON THE SURVIVING corpus (the real
    pipeline ordering — rates after cleaning, not before), (6)
    fixed-budget sequence packing ({_PREP_PACK} tokens) per source.

    Scale shape: one corpus scan; the dedup window shuffles on the
    32-byte digest (uniform), the shingle explode is bounded by token
    count, the rate table is scalar-broadcast, and packing reuses a
    per-source window. The eval-gram side carries NO static broadcast
    hint (round 8, VERDICT r7 #3): AQE promotes it at runtime from
    actual shuffle bytes — a production eval suite earns the
    broadcast, this fixture's corpus-derived %97 slice at 100 TB
    would not, and a forced hint there is a driver OOM. The
    full-chain oracle makes stage-boundary regressions (filter before
    vs after dedup, rates before vs after cleaning) hash-visible."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "))
    tok = docs.select(
        "doc_id", "source", norm.alias("norm"),
        F.filter(F.split(norm, " "), lambda x: x != "").alias("toks"))
    quality = (tok.withColumn("n_tok", F.size("toks"))
                  .filter(F.col("n_tok").between(_PREP_MIN_TOK, _PREP_MAX_TOK)))
    wdig = W.partitionBy(F.md5("norm")).orderBy("doc_id")
    dedup = (quality.withColumn("rn", F.row_number().over(wdig))
                    .filter(F.col("rn") == 1).drop("rn")).cache()
    grams = (dedup.select("doc_id", F.explode(
                 F.sequence(F.lit(0), F.size("toks") - 4)).alias("i"), "toks")
                  .select("doc_id", F.array_join(
                      F.slice("toks", F.col("i") + 1, 4), " ").alias("gram")))
    eval_grams = (grams.filter(F.col("doc_id") % 97 == 0)
                       .select("gram").distinct())
    contaminated = (grams.filter(F.col("doc_id") % 97 != 0)
                         .join(eval_grams, "gram", "left_semi")
                         .select("doc_id").distinct())
    clean = (dedup.filter(F.col("doc_id") % 97 != 0)
                  .join(contaminated, "doc_id", "left_anti"))
    shares = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    mx = shares.agg(F.max(F.sqrt(F.col("n").cast("double"))).alias("mx"))
    rates = (shares.crossJoin(F.broadcast(mx))
                   .select("source",
                           F.floor(1_000_000.0
                                   * F.sqrt(F.col("n").cast("double"))
                                   / F.col("mx")).cast("long")
                            .alias("rate_ppm")))
    gate = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % 1000003 % 1000000
    mixed = (clean.join(F.broadcast(rates), "source")
                  .filter(gate < F.col("rate_ppm"))
                  .select("doc_id", "source", "n_tok"))
    wpack = (W.partitionBy("source").orderBy("doc_id")
              .rowsBetween(W.unboundedPreceding, -1))
    before = F.coalesce(F.sum("n_tok").over(wpack), F.lit(0))
    return mixed.select(
        "doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"),
        (before / _PREP_PACK).cast("long").alias("pack_id"),
        (before % _PREP_PACK).cast("long").alias("pack_offset"))


# ---------------------------------------------------------------------------
# Schema evolution scan (mergeSchema over heterogeneous parquet batches)
# ---------------------------------------------------------------------------

@query("scan_schema_evolution", oracle="""
WITH old_batch AS (
  SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
), new_batch AS (
  SELECT event_id, user_id, value, event_type FROM events
  WHERE event_id % 2 = 1
), unioned AS (
  SELECT event_id, user_id, value, NULL AS event_type FROM old_batch
  UNION ALL
  SELECT event_id, user_id, value, event_type FROM new_batch
)
SELECT COALESCE(event_type, '<pre-evolution>') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CASE WHEN NOT isnan(value) THEN value END
                     AS DECIMAL(38,12))) AS DOUBLE) AS total_value
FROM unioned GROUP BY 1
""")
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on read: a long-lived landing table whose early
    batches predate a column (here: even-id events written WITHOUT
    event_type, odd-id events written WITH it) must still scan as one
    table — `mergeSchema` unions the footer schemas and back-fills the
    missing column with NULL for old files. The aggregate proves no
    rows or values are lost across the boundary and that the evolved
    column is NULL exactly for pre-evolution files. At 100 TB: merge
    footers once at planning (or pin the unified schema explicitly,
    as the catalog does for stable tables — this op is the migration
    path), never rewrite old data for an additive column."""
    base = os.path.join(scratch_dir("schema_evo"), "t")
    ev = load_table(spark, sf_dir, "events")
    (ev.filter(F.col("event_id") % 2 == 0)
       .select("event_id", "user_id", "value")
       .write.mode("overwrite").parquet(base))
    (ev.filter(F.col("event_id") % 2 == 1)
       .select("event_id", "user_id", "value", "event_type")
       .write.mode("append").parquet(base))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (merged.groupBy(F.coalesce("event_type", F.lit("<pre-evolution>"))
                            .alias("event_type"))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.when(~F.isnan("value"), F.col("value"))
                              .cast("decimal(38,12)"))
                        .cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

@query("join_null_safe_eq", oracle="""
WITH k AS (
  SELECT event_id,
         CASE WHEN value IS NULL OR isnan(value) THEN NULL
              ELSE CAST(FLOOR(value / 100.0) AS BIGINT) END AS vk
  FROM events
), d AS (
  SELECT DISTINCT vk FROM k
)
SELECT COALESCE(CAST(d.vk AS VARCHAR), '<NULL>') AS bucket,
       CAST(COUNT(k.event_id) AS BIGINT) AS n
FROM k JOIN d ON k.vk IS NOT DISTINCT FROM d.vk
GROUP BY 1
""")
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join: `<=>` treats NULL as a joinable value
    (NULL <=> NULL is true) where plain `=` silently drops every
    NULL-keyed row — the semantics corner behind real bugs in
    enrichment joins on nullable keys (an unknown-bucket dim row should
    match unknown-bucket facts). Spark's eqNullSafe ≡ DuckDB's
    IS NOT DISTINCT FROM; both plan it as a hash join on a
    null-coalesced key, NOT a nested loop — same shuffle shape as `=`.
    The per-bucket counts prove NULL-keyed events joined through
    instead of vanishing (the '<NULL>' group must be present and
    non-zero for this fixture)."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        F.when(F.col("value").isNotNull() & ~F.isnan("value"),
               F.floor(F.col("value") / 100.0).cast("long")).alias("vk")
    ).alias("k")
    d = k.select(F.col("vk").alias("dk")).distinct().alias("d")
    joined = k.join(d, F.col("k.vk").eqNullSafe(F.col("d.dk")))
    return (joined.groupBy(
                F.coalesce(F.col("d.dk").cast("string"), F.lit("<NULL>"))
                 .alias("bucket"))
                  .agg(F.count("event_id").alias("n")))


# ---------------------------------------------------------------------------
# Period-over-period change (the BI MoM/YoY primitive)
# ---------------------------------------------------------------------------

@query("win_period_over_period", oracle="""
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE) AS revenue
  FROM orders GROUP BY month
)
SELECT month, n_orders, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       CASE WHEN lag(revenue) OVER (ORDER BY month) <> 0
            THEN (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month)
       END AS mom_change
FROM m
""")
def win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD change — the BI dashboard primitive (MoM /
    YoY deltas): aggregate to the period grain FIRST (exact decimal
    revenue sums), then lag over the tiny period series. The window
    runs on ~months-count rows regardless of fact size — the
    aggregate-then-window ordering is the 100 TB point (a lag over raw
    orders would sort the fact table for nothing). Division of
    bit-identical doubles is IEEE-exact, so the change ratio ships
    unrounded; a zero previous period yields NULL rather than an ANSI
    fault."""
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast(DEC))
                     .cast("double").alias("revenue")))
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month", "n_orders", "revenue",
        prev.alias("prev_revenue"),
        F.when(prev != 0, (F.col("revenue") - prev) / prev)
         .alias("mom_change"))


# ---------------------------------------------------------------------------
# Median absolute deviation (robust statistics family)
# ---------------------------------------------------------------------------

@query("agg_mad_robust", oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY event_type
), dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
  WHERE e.value IS NOT NULL AND NOT isnan(e.value)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(med) AS median_value,
       quantile_cont(adev, 0.5) AS mad
FROM dev GROUP BY event_type
""")
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN ABSOLUTE DEVIATION per group — the robust dispersion
    statistic outlier pipelines prefer over stddev (a single wild
    sensor reading moves stddev arbitrarily, MAD not at all; the
    rolling-median artifact filter win_sliding_median is this family's
    windowed cousin). Two-pass shape: exact interpolated median per
    group, broadcast back onto the rows (the medians table is
    group-cardinality-sized), then the median of absolute deviations.
    |x − med| is IEEE-exact on identical operands and both engines'
    exact percentile interpolates identically, so results ship
    unrounded. At 100 TB swap both exact percentiles for
    percentile_approx (agg_percentile_approx's t-digest path) — the
    plan shape is unchanged."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
             .select("event_type", "med",
                     F.abs(F.col("value") - F.col("med")).alias("adev")))
    return (dev.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.max("med").alias("median_value"),
                    F.expr("percentile(adev, 0.5)").alias("mad")))


# ---------------------------------------------------------------------------
# SQL entry point (E2): TPC-H Q1 / Q3 via spark.sql over registered views
# ---------------------------------------------------------------------------

def _register_views(spark: SparkSession, sf_dir: str) -> None:
    from ..catalog import Tables
    Tables(spark, sf_dir).register_views()


_Q1_SQL = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
         100 - CAST(ROUND(l_discount * 100) AS BIGINT) AS dmc,
         100 + CAST(ROUND(l_tax * 100) AS BIGINT) AS tpc
  FROM lineitem
  WHERE l_shipdate <= CAST('1998-09-01' AS DATE)
)
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(qc AS DECIMAL(30,0))) * 0.01
                 AS DECIMAL(38,12)) AS STRING) AS sum_qty,
       CAST(CAST(SUM(CAST(pc AS DECIMAL(30,0))) * 0.01
                 AS DECIMAL(38,12)) AS STRING) AS sum_base_price,
       CAST(CAST(SUM(CAST(pc * dmc AS DECIMAL(30,0))) * 0.0001
                 AS DECIMAL(38,12)) AS STRING) AS sum_disc_price,
       CAST(CAST(SUM(CAST(pc * dmc * tpc AS DECIMAL(30,0))) * 0.000001
                 AS DECIMAL(38,12)) AS STRING) AS sum_charge,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM c
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_tpch_q1", oracle=_Q1_SQL)
def sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) through the SQL ENTRY POINT (§3.2
    E2): the literally identical ANSI text runs on both engines —
    `spark.sql` over the catalog's registered views here, DuckDB over
    its parquet views as the oracle — so the op pins dialect
    compatibility of the whole statement, not just expression
    semantics. The four price aggregates are INTEGER-CENTS EXACT
    (round 8): every money column in the schema is an exact 2-dp
    value (pinned by tests/test_decimal_path.py), so
    ROUND(x·100)→BIGINT recovers the exact cents — never near a .5
    boundary, so Spark's and DuckDB's different ROUND/CAST
    conventions can't split — and the three products are exact
    INTEGER arithmetic (charge cents·dmc·tpc ≤ ~1.2e11/row), summed
    through DECIMAL(30,0) (exact at ANY scale: 1e30 ≫ any corpus),
    scale-shifted by exact decimal literals, and emitted as
    DECIMAL(38,12) FIXED-POINT STRINGS (digit-exact at any magnitude
    AND hash-stable through the driver's divergent decimal fetch
    paths — the round-7 red). This replaces the round-5
    string-routed-per-row form, which was digit-exact but allocated
    four 17-digit strings per row: at the 60M-row sf10ish blow-up
    that path ran 178 s cold with 8→30 s warm-run GC variance; the
    integer-cents form is pure codegen integer math + intrinsic
    decimal sums (~6 s cold, stable) with IDENTICAL output. The
    general mechanism for >16-digit exactness on arbitrary (non-2-dp)
    doubles remains dsum_dec_str (functions/exact.py). The scan-heavy
    single-agg shape is the canonical map-side-combine benchmark
    query."""
    _register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL)


_Q3_SQL = """
SELECT o_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,12)))
            AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < CAST('1998-03-15' AS DATE)
  AND l_shipdate > CAST('1998-03-15' AS DATE)
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query("sql_tpch_q3", oracle=_Q3_SQL)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through the same SQL entry point —
    a selective 3-table join + aggregate + top-k in one identical ANSI
    text on both engines. Catalyst gets the whole statement: filter
    pushdown on all three scans, join reordering, TakeOrderedAndProject
    for the LIMIT (asserted shape in the bench family); the unique
    o_orderkey tiebreak makes the top-10 deterministic."""
    _register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


# ---------------------------------------------------------------------------
# try_* error-tolerant scalar family (dirty-data survival)
# ---------------------------------------------------------------------------

@query("scalar_try_funcs", oracle="""
SELECT doc_id,
       TRY_CAST(lang AS BIGINT) AS lang_as_int,
       TRY_CAST(substr(text, 1, 4) AS BIGINT) AS head_as_int,
       CASE WHEN (doc_id % 7) <> 0 THEN CAST(n_chars AS DOUBLE) / (doc_id % 7)
       END AS safe_ratio,
       CASE WHEN n_chars >= 0 THEN CAST(SQRT(CAST(n_chars AS DOUBLE))
                                        AS DOUBLE) END AS safe_root
FROM documents
""")
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRY_* error-tolerant scalar family — how a 100 TB job
    survives dirty data under ANSI mode: try_cast returns NULL where
    CAST would fault the task (a single malformed cell killing a
    thousand-executor job is the alternative), try_divide NULLs the
    /0 rows. Spark's try_divide ≡ the oracle's CASE guard (DuckDB has
    TRY_CAST but no try_divide); both cast attempts here exercise the
    real failure modes: non-numeric strings ('en') and text heads.
    NULL-on-error semantics compose with the registry's NULL-feature
    policy (safe_div/safe_sqrt) — errors become missing data, never
    lost partitions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("try_cast(lang AS BIGINT)").alias("lang_as_int"),
        F.expr("try_cast(substr(text, 1, 4) AS BIGINT)").alias("head_as_int"),
        F.expr("try_divide(CAST(n_chars AS DOUBLE), doc_id % 7)")
         .alias("safe_ratio"),
        F.when(F.col("n_chars") >= 0,
               F.sqrt(F.col("n_chars").cast("double"))).alias("safe_root"))


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD2 dimension history
# ---------------------------------------------------------------------------

_SCD2_CTE = """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
k AS (
  SELECT user_id, event_id, us, event_type FROM c
  WHERE prev_type IS NULL OR event_type <> prev_type),
scd AS (
  SELECT user_id, event_type AS state, us AS valid_from_us,
         lead(us) OVER w AS valid_to_us,
         row_number() OVER w AS version
  FROM k WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
"""


@query("join_scd2_pointintime", oracle=_SCD2_CTE + """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       s.state, CAST(s.version AS BIGINT) AS version
FROM events p JOIN scd s
  ON p.user_id = s.user_id
 AND epoch_us(p.ts) >= s.valid_from_us
 AND (s.valid_to_us IS NULL OR epoch_us(p.ts) < s.valid_to_us)
WHERE p.event_type = 'purchase'
""")
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 history — the query the
    history table exists FOR: each purchase event picks up the
    dimension state that was valid AT ITS TIMESTAMP, never today's
    state (the classic time-travel-correctness bug in fact-dim joins).
    Composes scd2_history's versioned intervals with an equi+range
    join: user_id is the equi key (one shuffle each side), the
    interval predicate filters within the key group — validity
    intervals partition each user's timeline, so exactly one version
    matches per fact row. At 100 TB both sides shuffle once on
    user_id; the interval filter rides the sort-merge join, no
    explode, no as-of approximation."""
    from .q_window import scd2_history
    scd = (scd2_history(spark, sf_dir)
           .select("user_id", F.col("event_type").alias("state"),
                   "valid_from_us", "valid_to_us",
                   F.col("version").cast("long").alias("version")))
    p = (load_table(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us")))
    cond = ((p.user_id == scd.user_id)
            & (p.ts_us >= scd.valid_from_us)
            & (scd.valid_to_us.isNull() | (p.ts_us < scd.valid_to_us)))
    return (p.join(scd, cond)
             .select("event_id", p.user_id.alias("user_id"), "ts_us",
                     "state", "version"))


# ---------------------------------------------------------------------------
# Per-group OLS regression trend (closed-form exact sums)
# ---------------------------------------------------------------------------

@query("agg_regression_trend", oracle="""
WITH b AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), r AS (
  SELECT user_id, value AS y,
         CAST(us - MIN(us) OVER (PARTITION BY user_id) AS DOUBLE)
           / 1000000.0 AS x
  FROM b
), s AS (
  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
  FROM r GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 86400.0
       END AS slope_per_day,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
       END AS intercept
FROM s
""")
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS TREND (slope/intercept) from closed-form exact
    sums — the drift detector for sensor fleets (is this device's
    reading creeping?). x is rebased to per-user elapsed SECONDS
    before squaring (raw epoch-µs x² sums overflow even
    DECIMAL(38,12); rebasing also kills the catastrophic cancellation
    that makes naive n·Σx²−(Σx)² explode); all four sums ride
    DECIMAL(38,12) (order-free), the slope assembles in IEEE doubles
    from identical operands and publishes in value-per-DAY units.
    Degenerate groups (single point, constant x) yield NULL through
    the determinant guard. Built-in regr_slope would be shorter but
    its float accumulation order is engine- and partition-dependent —
    the closed form is the cross-engine-exact route, same plan shape
    (one window min + one aggregate on one partitioning)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    wmin = W.partitionBy("user_id")
    r = ev.select(
        "user_id", F.col("value").alias("y"),
        ((F.unix_micros("ts")
          - F.min(F.unix_micros("ts")).over(wmin)).cast("double")
         / 1e6).alias("x"))
    s = r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("sxx"))
    det = s.n * s.sxx - s.sx * s.sx
    slope = (s.n * s.sxy - s.sx * s.sy) / det
    return s.select(
        "user_id", F.col("n").cast("long").alias("n"),
        F.when(det != 0, slope * 86400.0).alias("slope_per_day"),
        F.when(det != 0, (s.sy - slope * s.sx) / s.n).alias("intercept"))


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4 parse_json / variant_get)
# ---------------------------------------------------------------------------

@query("scan_json_variant", oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""")
def scan_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type — the engine-native semi-structured
    path: `parse_json` shreds the JSON string ONCE into a binary
    variant encoding, and every subsequent `variant_get` is a typed
    field access on that encoding instead of a re-parse of the text
    (the reason VARIANT beats get_json_object when several fields are
    extracted from the same column — at 100 TB, parse-per-field is the
    dominant cost). Extraction is typed at the access site
    ('$.k' AS bigint); aggregates over the extracted values must match
    DuckDB's json_extract exactly, proving the shredded encoding is
    value-faithful. Output columns are concrete types — VARIANT itself
    never leaves the plan."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("props").isNotNull()))
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = v.select("event_type",
                 F.expr("variant_get(v, '$.k', 'bigint')").alias("k"))
    return (k.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("k").cast("long").alias("sum_k"),
                  F.max("k").cast("long").alias("max_k")))


# multimodal_phash_dedup moved to plans/q_media.py (round 6): the
# aHash now runs over real decoded BMP files, not stub bytes.


# ---------------------------------------------------------------------------
# OHLC bar aggregation (open/high/low/close downsampling)
# ---------------------------------------------------------------------------

_BAR_US = 900_000_000  # 15-minute bars


@query("agg_ohlc_bars", oracle=f"""
WITH b AS (
  SELECT user_id, (epoch_us(ts) // {_BAR_US}) * {_BAR_US} AS bar_us,
         value, epoch_us(ts) AS us, event_id,
         row_number() OVER (PARTITION BY user_id,
                                         (epoch_us(ts) // {_BAR_US}) * {_BAR_US}
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id,
                                         (epoch_us(ts) // {_BAR_US}) * {_BAR_US}
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, bar_us,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close
FROM b GROUP BY user_id, bar_us
""")
def agg_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC BAR aggregation — the canonical time-series downsample
    (finance candles; sensor dashboards): per (user, 15 min bucket),
    open = first reading, close = last, high/low = extremes. First/
    last are resolved by row_number with the (ts, event_id) total
    order (the registry tiebreak rule) — `first()`-in-groupBy is
    nondeterministic and min_by/arg_min tie rules differ per engine,
    so count-the-rows is the portable route. Both window passes and
    the final aggregate share ONE (user, bar) partitioning — the
    sort is reused, single shuffle (plan-asserted). Values pass
    through untouched (no arithmetic): exact on both engines."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    bar = F.expr(f"(unix_micros(ts) div {_BAR_US}) * {_BAR_US}")
    b = ev.select("user_id", bar.alias("bar_us"), "value", "ts", "event_id")
    wa = W.partitionBy("user_id", "bar_us").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", "bar_us").orderBy(F.desc("ts"),
                                                   F.desc("event_id"))
    r = b.select("user_id", "bar_us", "value",
                 F.row_number().over(wa).alias("rn_a"),
                 F.row_number().over(wd).alias("rn_d"))
    return (r.groupBy("user_id", "bar_us")
             .agg(F.count(F.lit(1)).alias("n_ticks"),
                  F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                   .alias("open"),
                  F.max("value").alias("high"),
                  F.min("value").alias("low"),
                  F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                   .alias("close")))


# ---------------------------------------------------------------------------
# Deterministic epoch reshuffle (reproducible training-data order)
# ---------------------------------------------------------------------------

@query("data_epoch_shuffle", oracle="""
WITH e AS (
  SELECT doc_id, g.epoch,
         ((doc_id + 7919 * g.epoch) % 1000003) * 2654435761 % 1000003
           AS shuffle_key
  FROM documents, (SELECT unnest(generate_series(0, 2)) AS epoch) g
)
SELECT epoch, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch
                               ORDER BY shuffle_key, doc_id) AS BIGINT)
         AS position
FROM e
""")
def data_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH RESHUFFLE — the dataloader contract for
    multi-epoch training: each epoch visits every document exactly
    once in an order that (a) differs between epochs, (b) is fully
    reproducible from (doc_id, epoch) alone — no RNG state, no
    partition-order dependence, any worker can compute any position.
    The epoch-salted Knuth hash gives the order; row_number over
    (key, id) makes ties impossible. The epoch multiplier 7919 is
    coprime to (and not a multiple of) the modulus 1000003, so the
    epoch term survives the mod and each epoch really is a different
    permutation (tests/test_llm_ops.py asserts positions differ
    across epochs). At 100 TB the sort is per-epoch
    range-partitioned like any global sort, or skipped entirely by
    bucketing on shuffle_key ranges — the KEY, not the sort, is the
    contract. Integer arithmetic is overflow-safe BIGINT on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    e = docs.select("doc_id").crossJoin(F.broadcast(epochs))
    key = (((F.col("doc_id") + 7919 * F.col("epoch")) % 1000003)
           * F.lit(2654435761) % 1000003)
    w = W.partitionBy("epoch").orderBy("shuffle_key", "doc_id")
    return (e.withColumn("shuffle_key", key)
             .select("epoch", "doc_id",
                     F.row_number().over(w).cast("long").alias("position")))


# ---------------------------------------------------------------------------
# Merge overlapping intervals (coverage islands via cumulative max)
# ---------------------------------------------------------------------------

_IVL_US = 1_800_000_000  # each event opens a 30-min activity interval


@query("interval_merge_overlaps", oracle=f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_IVL_US} AS e,
         event_id
  FROM events
), m AS (
  SELECT user_id, s, e, event_id,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
), f AS (
  SELECT user_id, s, e, event_id,
         CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
           AS new_island
  FROM m
), g AS (
  SELECT user_id, s, e,
         CAST(SUM(new_island) OVER (PARTITION BY user_id
                                    ORDER BY s, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS island
  FROM f
)
SELECT user_id, island,
       MIN(s) AS cover_start_us, MAX(e) AS cover_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM g GROUP BY user_id, island
""")
def interval_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE OVERLAPPING INTERVALS — the coverage/union-of-ranges
    primitive (uptime stitching, sensor coverage, calendar busy
    blocks): each event opens a 30-min interval; a new island starts
    where an interval's start clears the running MAX of all previous
    ends (cummax, NOT lag(e) — an earlier long interval can swallow
    several later ones); cumulative island ids then one aggregate.
    The classic gaps-and-islands generalization to intervals, all on
    ONE user partitioning (two window passes + agg share the sort —
    single shuffle). Both windows order by (s, event_id) — a TOTAL
    order — so duplicate (user_id, ts) events cannot make the
    cumulative-sum frame order engine-dependent. Integer-µs
    arithmetic end to end."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select("user_id", "event_id",
                   F.unix_micros("ts").alias("s"),
                   (F.unix_micros("ts") + _IVL_US).alias("e"))
    wp = (W.partitionBy("user_id").orderBy("s", "event_id")
           .rowsBetween(W.unboundedPreceding, -1))
    m = iv.select("user_id", "s", "e", "event_id",
                  F.max("e").over(wp).alias("prev_max_e"))
    new_island = F.when(F.col("prev_max_e").isNull()
                        | (F.col("s") > F.col("prev_max_e")), 1).otherwise(0)
    wg = (W.partitionBy("user_id").orderBy("s", "event_id")
           .rowsBetween(W.unboundedPreceding, 0))
    g = (m.withColumn("ni", new_island)
          .withColumn("island", F.sum("ni").over(wg).cast("long")))
    return (g.groupBy("user_id", "island")
             .agg(F.min("s").alias("cover_start_us"),
                  F.max("e").alias("cover_end_us"),
                  F.count(F.lit(1)).alias("n_intervals")))


# ---------------------------------------------------------------------------
# Frequency-weighted statistics (weights from the JSON props column)
# ---------------------------------------------------------------------------

@query("agg_weighted_stats", oracle="""
WITH w AS (
  SELECT event_type, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS wt
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND props IS NOT NULL
    AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 0
)
SELECT event_type,
       CAST(SUM(wt) AS BIGINT) AS total_weight,
       ROUND(CAST(SUM(CAST(value * wt AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(SUM(wt) AS DOUBLE), 6) AS wmean,
       ROUND((CAST(SUM(CAST(value * value * wt AS DECIMAL(38,12))) AS DOUBLE)
              - CAST(SUM(CAST(value * wt AS DECIMAL(38,12))) AS DOUBLE)
                * CAST(SUM(CAST(value * wt AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(wt) AS DOUBLE))
             / CAST(SUM(wt) AS DOUBLE), 6) AS wvar_pop
FROM w GROUP BY event_type
""")
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENCY-WEIGHTED mean and population variance — the
    pre-aggregated-data statistic (each row carries a count/weight, as
    every rollup and importance-sampled dataset does): wmean =
    Σwx / Σw, wvar = Σwx² / Σw − wmean², with the weight pulled from
    the JSON props column (integer, exact). All three weighted sums
    ride DECIMAL(38,12) (order-free), assembly is IEEE on identical
    operands, published at 6 dp. One hash aggregate, map-side
    partials — the same one-pass shape as agg_basic regardless of
    weight distribution."""
    ev = load_table(spark, sf_dir, "events")
    wt = F.get_json_object("props", "$.k").cast("long")
    w = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value") & F.col("props").isNotNull())
           .select("event_type", "value", wt.alias("wt"))
           .filter(F.col("wt") > 0))
    swx = F.sum((F.col("value") * F.col("wt")).cast(DEC)).cast("double")
    swxx = F.sum((F.col("value") * F.col("value") * F.col("wt")).cast(DEC)) \
            .cast("double")
    sw = F.sum("wt").cast("double")
    return (w.groupBy("event_type")
             .agg(F.sum("wt").alias("total_weight"),
                  F.round(swx / sw, 6).alias("wmean"),
                  F.round((swxx - swx * swx / sw) / sw, 6).alias("wvar_pop")))


# ---------------------------------------------------------------------------
# Winsorization (clamp to per-group percentile fences)
# ---------------------------------------------------------------------------

@query("win_winsorize", oracle="""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value < q.p05 THEN q.p05
            WHEN e.value > q.p95 THEN q.p95
            ELSE e.value END AS value_winsorized,
       (e.value < q.p05 OR e.value > q.p95) AS clamped
FROM events e JOIN q ON e.event_type = q.event_type
WHERE e.value IS NOT NULL AND NOT isnan(e.value)
""")
def win_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZATION — clamp each reading to its group's [p05, p95]
    fences instead of dropping it (the robust-stats alternative to
    outlier deletion when row counts must be preserved; pairs with
    agg_mad_robust). Exact interpolated percentiles per group,
    broadcast back (group-cardinality-sized table), per-row CASE
    clamp — values pass through or copy a fence bit-for-bit, no
    arithmetic to drift. The clamped flag is a non-nullable boolean
    per the registry house rule. At 100 TB both percentiles swap to
    t-digest; the broadcast-clamp shape is unchanged."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"))
    j = ev.join(F.broadcast(q), "event_type")
    clamped = (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))
    return j.select(
        "event_id", "event_type", "value",
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
         .when(F.col("value") > F.col("p95"), F.col("p95"))
         .otherwise(F.col("value")).alias("value_winsorized"),
        clamped.alias("clamped"))


# ---------------------------------------------------------------------------
# Multi-quantile in one pass (the describe() quartet)
# ---------------------------------------------------------------------------

@query("agg_quantile_multi", oracle="""
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75,
       quantile_cont(value, 0.90) AS p90,
       ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
         AS iqr
FROM events WHERE value IS NOT NULL AND NOT isnan(value)
GROUP BY event_type
""")
def agg_quantile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-QUANTILE in one aggregation — the describe()/boxplot
    quartet (p25/p50/p75/p90 + IQR) computed from a SINGLE per-group
    sort: Spark's `percentile(col, array(...))` evaluates every
    requested quantile against one ordered buffer instead of one
    aggregate (and one buffer) per quantile. Exact interpolation
    matches DuckDB's quantile_cont bit-for-bit on identical inputs;
    the IQR difference of two exact quantiles rounds at 6 dp only as
    boundary insurance. At 100 TB this swaps to ONE
    percentile_approx(col, array(...)) t-digest — same single-pass
    shape, mergeable partials."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    qs = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.9))")
    a = ev.groupBy("event_type").agg(qs.alias("q"))
    return a.select(
        "event_type",
        F.col("q")[0].alias("p25"), F.col("q")[1].alias("p50"),
        F.col("q")[2].alias("p75"), F.col("q")[3].alias("p90"),
        F.round(F.col("q")[2] - F.col("q")[0], 6).alias("iqr"))


# ---------------------------------------------------------------------------
# Map-typed aggregation, canonicalized for cross-engine hashing
# ---------------------------------------------------------------------------

@query("agg_map_counts", oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       string_agg(event_type || ':' || n, ',' ORDER BY event_type)
         AS type_counts
FROM c GROUP BY user_id
""")
def agg_map_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed aggregation — per user a {event_type: count} map
    (`map_from_entries` over collected pairs), the natural shape for
    feature stores that keep per-entity categorical histograms in one
    column. Maps hash unorderedly and engines disagree on entry order,
    so the REGISTERED result canonicalizes the map to a key-sorted
    'k:v' CSV (the agg_collect array lesson applied to maps) — the map
    column itself stays in the plan as the realistic intermediate.
    Count-then-gather: the per-(user, type) aggregate shrinks the data
    before any collection, so the gathered state is bounded by the
    type cardinality, never the event count."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    m = (c.groupBy("user_id")
          .agg(F.map_from_entries(
              F.sort_array(F.collect_list(F.struct("event_type", "n"))))
              .alias("type_map")))
    entry = lambda k, v: F.concat(k, F.lit(":"), v.cast("string"))  # noqa: E731
    return m.select(
        "user_id",
        F.array_join(F.transform(
            F.map_entries("type_map"),
            lambda e: entry(e["key"], e["value"])), ",")
         .alias("type_counts"))


# ---------------------------------------------------------------------------
# Storage-aligned aggregation over a bucketed table (no shuffle)
# ---------------------------------------------------------------------------

@query("agg_bucketed_no_shuffle", oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE) AS total
FROM orders GROUP BY o_custkey
""")
def agg_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-aligned AGGREGATION — the bucketing payoff beyond joins:
    grouping BY THE BUCKETING KEY over a bucketed table needs NO
    exchange at all (the scan already delivers rows clustered by
    o_custkey, so the hash aggregate runs in place; asserted in
    tests/test_plan_shape.py). At 100 TB this is the difference
    between re-shuffling the fact table for every per-customer rollup
    and reading a layout that amortized that shuffle at write time —
    the same economics as the co-located join, applied to the
    aggregation family. Results are layout-independent (the oracle
    reads the plain parquet), proving bucketing is purely physical."""
    from .q_joins import _bucketed_tables
    to_name, _ = _bucketed_tables(spark, sf_dir)
    o = spark.table(to_name)
    return (o.groupBy("o_custkey")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast(DEC))
                   .cast("double").alias("total")))


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join (watermark decides no-match)
# ---------------------------------------------------------------------------

@query("stream_stream_left_outer", oracle="""
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
WHERE p.event_type = 'purchase'
""")
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the outer variant is
    where watermarks earn their keep: an unmatched purchase may only
    emit once the watermark passes its interval bound, proving no
    matching click can still arrive (eviction IS the no-match
    decision). Registered on the batch path of the shared transform
    (plain left outer range join ≡ the oracle); the interval bound
    keeps both sides' streaming state evictable exactly as in the
    inner-join twin stream_stream_join."""
    ev = load_table(spark, sf_dir, "events")
    from ..streaming import transforms
    return transforms.stream_stream_purchase_click_outer(ev)


# ---------------------------------------------------------------------------
# Containment dedup (asymmetric near-superset detection)
# ---------------------------------------------------------------------------

_CONT_MAX_DF = 100   # stop-shingle cap (same rationale as ngram jaccard)
_CONT_THRESH = 0.5   # smaller doc at least half-contained in the larger


@query("dedup_containment", oracle=f"""
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, greatest(1, len(ts) - 2)),
                i -> array_to_string(ts[i:i+2], ' '))) AS s
  FROM tok),
sh AS (
  SELECT doc_id, source, s FROM sh0
  QUALIFY COUNT(*) OVER (PARTITION BY source, s) <= {_CONT_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shj AS (
  SELECT doc_id, source, s FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY source, s) >= 2),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM shj x JOIN shj y ON x.source = y.source AND x.s = y.s
  WHERE x.doc_id < y.doc_id GROUP BY a, b)
SELECT a, b, CAST(i AS BIGINT) AS n_shared,
       ROUND(CAST(i AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) >= {_CONT_THRESH}
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT dedup (Broder's asymmetric resemblance): score =
    |A∩B| / min(|A|, |B|) — how much of the SMALLER document lives
    inside the larger. Symmetric Jaccard misses exactly this case: a
    paragraph quoted whole inside a long article scores near-zero
    Jaccard (union dominated by the article) but containment ≈ 1 —
    the excerpt/quotation duplicates a pretraining corpus actually
    has. Same scalable skeleton as dedup_ngram_jaccard (distinct
    3-gram shingles, source blocking, stop-shingle cap, df≥2
    self-join pruning); only the denominator changes — which is the
    point: the blocking infrastructure amortizes across every
    resemblance measure built on it."""
    from ..operators import textops
    docs = load_table(spark, sf_dir, "documents").repartition("doc_id")
    sh = docs.select(
        "doc_id", "source",
        F.explode(F.array_distinct(
            textops.shingles(textops.tokens("text"), 3))).alias("s"),
    ).cache()
    dfreq = sh.groupBy("source", "s").agg(F.count(F.lit(1)).alias("df"))
    hot = dfreq.filter(F.col("df") > _CONT_MAX_DF).select("source", "s")
    sh = sh.join(F.broadcast(hot), ["source", "s"], "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    joinable = (dfreq.filter((F.col("df") >= 2)
                             & (F.col("df") <= _CONT_MAX_DF))
                     .select("source", "s"))
    shj = sh.join(joinable, ["source", "s"], "left_semi")
    x = shj.select(F.col("doc_id").alias("a"), "source", "s")
    y = shj.select(F.col("doc_id").alias("b"), "source", "s")
    inter = (x.join(y, ["source", "s"]).filter(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("i")))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    cont = F.col("i").cast("double") / F.least("na", "nb")
    return (inter.join(sa, "a").join(sb, "b")
                 .filter(cont >= _CONT_THRESH)
                 .select("a", "b", F.col("i").cast("long").alias("n_shared"),
                         F.round(cont, 6).alias("containment")))


# ---------------------------------------------------------------------------
# Gini concentration per group (inequality of the value distribution)
# ---------------------------------------------------------------------------

@query("agg_gini_concentration", oracle="""
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk
  FROM events
  WHERE value IS NOT NULL AND value >= 0 AND NOT isnan(value)
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * rk AS DECIMAL(38,12))) AS DOUBLE) AS sxr
  FROM r GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN sx > 0
            THEN ROUND((2.0 * sxr / (n * sx)) - (n + 1.0) / n, 6)
       END AS gini
FROM s
""")
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT per group — the concentration diagnostic for
    data curation (is one user/source/type contributing most of the
    mass?): G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n over ascending-sorted
    values. The rank comes from a window with the (value, event_id)
    total order — ties broken identically on both engines, which
    matters because rank·x is rank-sensitive for equal values only in
    ORDER, not in sum... and the tiebreak pins that order anyway. Both
    sums ride DECIMAL(38,12); assembly is IEEE on identical operands,
    published at 6 dp. One window + one aggregate on the same
    event_type partitioning."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & (F.col("value") >= 0)
                  & ~F.isnan("value")))
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select("event_type", "value",
                  F.row_number().over(w).alias("rk"))
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("rk")).cast(DEC)).cast("double")
         .alias("sxr"))
    gini = (2.0 * s.sxr / (s.n * s.sx)) - (s.n + 1.0) / s.n
    return s.select("event_type", F.col("n").cast("long").alias("n"),
                    F.when(s.sx > 0, F.round(gini, 6)).alias("gini"))


# ---------------------------------------------------------------------------
# Gini-Simpson diversity (log-free distribution diagnostic)
# ---------------------------------------------------------------------------

@query("agg_simpson_diversity", oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), t AS (
  SELECT user_id, CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sum_sq,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id, n_types, total,
       ROUND(1.0 - CAST(sum_sq AS DOUBLE)
                   / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
         AS simpson_diversity
FROM t
""")
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI-SIMPSON DIVERSITY per user (1 − Σpᵢ²) — the behavioral/
    data-mix evenness diagnostic that needs NO logarithms: Shannon
    entropy's per-term ln(p) drifts 1 ulp across libm implementations,
    while Simpson is integer counts, one integer square sum, and one
    IEEE division — bit-exact cross-engine by construction (the same
    reasoning that picked odds-ratio idf for BM25 and T=2 for
    temperature mixing). Two stacked aggregates, both keyed on
    user_id — the second runs on the tiny (user, type) table."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    t = c.groupBy("user_id").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_types"))
    div = 1.0 - (F.col("sum_sq").cast("double")
                 / (F.col("total").cast("double")
                    * F.col("total").cast("double")))
    return t.select("user_id", "n_types", "total",
                    F.round(div, 6).alias("simpson_diversity"))


# ---------------------------------------------------------------------------
# Broadcast range-lookup join (tier tables)
# ---------------------------------------------------------------------------

@query("join_range_lookup", oracle="""
WITH tiers(tier, lo, hi) AS (
  VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
         ('high', 150.0, 1e9)
)
SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(e.value AS DECIMAL(38,12))) AS DOUBLE), 6)
         AS total_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
WHERE e.value IS NOT NULL AND e.value >= 0
GROUP BY t.tier
""")
def join_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast RANGE-LOOKUP join — the tier/banding table every
    pricing, scoring, and bucketing pipeline has: each reading matched
    to the [lo, hi) band that contains it. With a handful of
    non-overlapping bands the right plan IS the broadcast nested-loop
    join (tiny build side × cheap predicate beats materializing a
    bucketed blocking key); contrast join_theta_band_bucketed, where
    BOTH sides are large and bucket-blocking is what rescues the
    quadratic — together they bracket the two regimes of non-equi
    joins at scale. Non-overlap makes each row match exactly one band,
    so counts partition the input; DECIMAL-exact value sums."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & (F.col("value") >= 0)
                  & ~F.isnan("value")))
    # .limit(3) = no-op bound (3-row literal) making the broadcast
    # side's cardinality visible to tools/scan_broadcast_hints.py.
    tiers = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "tier string, lo double, hi double").limit(3)
    j = ev.join(F.broadcast(tiers),
                (ev.value >= tiers.lo) & (ev.value < tiers.hi))
    return (j.groupBy("tier")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 6)
                   .alias("total_value")))


# ---------------------------------------------------------------------------
# Ratio-to-report (share of group total per row)
# ---------------------------------------------------------------------------

@query("win_ratio_to_report", oracle="""
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS day_value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY user_id, day
)
SELECT user_id, day, ROUND(day_value, 6) AS day_value,
       ROUND(day_value /
             CAST(SUM(CAST(day_value AS DECIMAL(38,12))) OVER
                  (PARTITION BY user_id) AS DOUBLE), 6) AS share_of_user
FROM d
""")
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-TO-REPORT — each row's share of its group total (the BI
    windowed-total idiom: daily value as a fraction of the user's
    all-time value). Aggregate to the (user, day) grain FIRST, then
    the unbounded window total runs over the small daily series, not
    raw events — the same aggregate-then-window economics as
    win_period_over_period, and both stages key on user_id so the
    window reuses the aggregate's partitioning. The window SUM rides
    DECIMAL (in-frame order is unspecified), the share divides
    bit-identical doubles, both published at 6 dp."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    d = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
           .agg(F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("day_value")))
    w = W.partitionBy("user_id")
    total = F.sum(F.col("day_value").cast(DEC)).over(w).cast("double")
    return d.select("user_id", "day",
                    F.round("day_value", 6).alias("day_value"),
                    F.round(F.col("day_value") / total, 6)
                     .alias("share_of_user"))


# ---------------------------------------------------------------------------
# Deterministic arg-max via struct ordering
# ---------------------------------------------------------------------------

@query("agg_argmax_reading", oracle="""
SELECT user_id, value AS peak_value, epoch_us(ts) AS peak_ts_us, event_id
FROM events
WHERE value IS NOT NULL
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY value DESC, ts DESC, event_id DESC) = 1
""")
def agg_argmax_reading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ARG-MAX — the peak reading WITH its context
    (timestamp, id) per user: `max(struct(value, ts, event_id))` uses
    struct lexicographic ordering, so the (ts, event_id) tail is a
    built-in tiebreak and the result is total-order deterministic —
    where bare max_by/arg_max leaves ties unspecified on BOTH engines
    (the agg_mode lesson for extremes). One hash aggregate with
    map-side partials — no window over raw events needed on the Spark
    side; the oracle's row_number formulation pins identical
    semantics."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    peak = F.max(F.struct("value",
                          F.unix_micros("ts").alias("ts_us"),
                          "event_id")).alias("p")
    return (ev.groupBy("user_id").agg(peak)
              .select("user_id",
                      F.col("p.value").alias("peak_value"),
                      F.col("p.ts_us").alias("peak_ts_us"),
                      F.col("p.event_id").alias("event_id")))


# ---------------------------------------------------------------------------
# Exact-dedup keep policy: keep the LONGEST representative
# ---------------------------------------------------------------------------

@query("dedup_exact_keep_longest", oracle="""
WITH n AS (
  SELECT doc_id, n_chars, source,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS h
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM n
QUALIFY row_number() OVER (PARTITION BY h
                           ORDER BY n_chars DESC, doc_id) = 1
""")
def dedup_exact_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup KEEP POLICY variant: within each normalized-digest
    group keep the LONGEST document (ties to the lowest id) — the
    curation choice when near-identical pages differ by truncation and
    the fuller copy is the better training example, vs
    dedup_exact_normalized's keep-lowest-id (stable/reproducible) and
    dedup_minhash_cluster's keep-lowest-per-cluster. The policy is ONE
    ORDER BY in the ranking window — the digest-keyed shuffle, the
    scale shape, and everything upstream are unchanged, which is the
    point: keep policies are orthogonal to the dedup plan."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "))
    w = W.partitionBy(F.md5(norm)).orderBy(F.desc("n_chars"), "doc_id")
    return (docs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("doc_id", "source",
                        F.col("n_chars").cast("long").alias("n_chars")))


# ---------------------------------------------------------------------------
# Segment-level boilerplate removal (C4's duplicated-line filter analog)
# ---------------------------------------------------------------------------

_SEG_TOK = 12   # tokens per segment (sentence stand-in)
_SEG_MAX_DF = 3  # segments in more distinct docs than this are boilerplate


@query("text_boilerplate_segments", oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')), ' '), x -> x <> '') AS toks
  FROM documents
), seg AS (
  SELECT doc_id, CAST(i // {_SEG_TOK} AS BIGINT) AS seg_idx,
         array_to_string(toks[i + 1:i + {_SEG_TOK}], ' ') AS segment
  FROM t, unnest(generate_series(0, len(toks) - 1, {_SEG_TOK})) AS s(i)
  WHERE len(toks) > 0
), df AS (
  SELECT segment, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM seg GROUP BY segment
)
SELECT seg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN df.df <= {_SEG_MAX_DF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(
           CASE WHEN df.df <= {_SEG_MAX_DF} THEN seg.segment END,
           ' ' ORDER BY seg.seg_idx), '')) AS kept_digest
FROM seg JOIN df ON seg.segment = df.segment
GROUP BY seg.doc_id
""")
def text_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-LEVEL BOILERPLATE REMOVAL — the C4 duplicated-line
    filter reshaped for the fixture (no newlines, so fixed
    {_SEG_TOK}-token segments stand in for lines/sentences): any
    segment appearing in more than {_SEG_MAX_DF} DISTINCT documents is
    corpus boilerplate (headers, disclaimers, navigation) and is cut
    from every document that carries it — a WITHIN-document edit
    driven by CROSS-corpus statistics, which is what separates this
    from document-level dedup. The segment-df table is tiny after its
    aggregate and broadcasts back; the reconstructed document digest
    (order-preserving join of kept segments) proves both engines
    delete exactly the same spans. At 100 TB this is one tokenize
    pass, one bounded segment explode, one broadcast join — the
    text_contamination_ngram economics applied to intra-doc cleaning."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "))
    toks = docs.select(
        "doc_id", F.filter(F.split(norm, " "), lambda x: x != "").alias("toks"))
    seg = (toks.filter(F.size("toks") > 0)
               .select("doc_id", F.explode(
                   F.sequence(F.lit(0), F.size("toks") - 1,
                              F.lit(_SEG_TOK))).alias("i"), "toks")
               .select("doc_id",
                       (F.col("i") / _SEG_TOK).cast("long").alias("seg_idx"),
                       F.array_join(F.slice("toks", F.col("i") + 1, _SEG_TOK),
                                    " ").alias("segment")))
    df = seg.groupBy("segment").agg(
        F.countDistinct("doc_id").alias("df"))
    j = seg.join(F.broadcast(df), "segment")
    kept = F.when(F.col("df") <= _SEG_MAX_DF, F.col("segment"))
    return (j.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_segments"),
                  F.sum(F.when(F.col("df") <= _SEG_MAX_DF, 1).otherwise(0))
                   .cast("long").alias("n_kept"),
                  F.md5(F.coalesce(F.array_join(
                      F.transform(
                          F.filter(F.sort_array(F.collect_list(
                              F.struct("seg_idx", kept.alias("seg")))),
                              lambda e: e["seg"].isNotNull()),
                          lambda e: e["seg"]),
                      " ", None), F.lit(""))).alias("kept_digest")))


# ---------------------------------------------------------------------------
# Bag-semantics INTERSECT ALL (completes the set-op family)
# ---------------------------------------------------------------------------

@query("set_intersect_all", oracle="""
SELECT user_id, event_type FROM (
  SELECT user_id, event_type FROM events WHERE value > 50
  INTERSECT ALL
  SELECT user_id, event_type FROM events WHERE value < 150
) t
""")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: each (user, type) row survives
    min(count_left, count_right) times, where plain INTERSECT
    (set_intersect) collapses to distinct. The multiplicity
    distinction matters whenever rows are observations, not identities
    (overlap SIZE between two cohort extracts). Spark's intersectAll
    plans it as a counted hash aggregate on each side + min — one
    shuffle per side, no join explosion; DuckDB's INTERSECT ALL is the
    identical ANSI construct."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("value") > 50).select("user_id", "event_type")
    b = ev.filter(F.col("value") < 150).select("user_id", "event_type")
    return a.intersectAll(b)


# ---------------------------------------------------------------------------
# Harmonic mean (rate averaging done right)
# ---------------------------------------------------------------------------

@query("agg_harmonic_mean", oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(CAST(1.0 / value AS DECIMAL(38,12))) AS DOUBLE), 6)
         AS harmonic_mean,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS arithmetic_mean
FROM events WHERE value > 0 AND NOT isnan(value) GROUP BY event_type
""")
def agg_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC MEAN per group — the correct average for RATES, and the
    exact statistic behind the engine's own mean-HR distinction: the
    average heart rate is NOT 60000/mean(RR) but the harmonic story in
    reverse (hrv_time_domain computes mean_hr = mean(60000/rri), i.e.
    the arithmetic mean of a reciprocal — harmonic machinery either
    way). n / Σ(1/x): the reciprocals are IEEE-exact per row, their
    sum rides DECIMAL(38,12), assembly is one division of identical
    doubles — emitted beside the arithmetic mean so the Jensen gap
    (harmonic ≤ arithmetic) is visible in the result. One hash
    aggregate, map-side partials."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") > 0) & ~F.isnan("value"))
    n = F.count(F.lit(1))
    sr = F.sum((F.lit(1.0) / F.col("value")).cast(DEC)).cast("double")
    sx = F.sum(F.col("value").cast(DEC)).cast("double")
    return (ev.groupBy("event_type")
              .agg(n.alias("n"),
                   F.round(n.cast("double") / sr, 6).alias("harmonic_mean"),
                   F.round(sx / n.cast("double"), 6)
                    .alias("arithmetic_mean")))


# ---------------------------------------------------------------------------
# Calendar date spine (warehouse date dimension generation)
# ---------------------------------------------------------------------------

@query("date_spine_calendar", oracle="""
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
)
SELECT day,
       CAST(EXTRACT(year FROM day) AS BIGINT) AS year,
       CAST(EXTRACT(month FROM day) AS BIGINT) AS month,
       CAST(EXTRACT(day FROM day) AS BIGINT) AS dom,
       CAST(EXTRACT(isodow FROM day) AS BIGINT) AS iso_dow,
       (EXTRACT(isodow FROM day) >= 6) AS is_weekend,
       CAST(date_trunc('month', day) AS DATE) AS month_start,
       CAST(last_day(day) AS DATE) AS month_end
FROM spine
""")
def date_spine_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE SPINE / calendar dimension generation — the warehouse
    staple every gap-sensitive report joins against (a day with no
    orders still needs a row): one contiguous day-per-row table
    spanning the data's own [min, max] date range, with the standard
    derived attributes (ISO weekday, weekend flag, month boundaries).
    Generated by a bounded explode(sequence) over DATE — the
    time_bucket_gapfill grid idiom promoted to a reusable dimension;
    at 100 TB this table is ~decades × 365 rows, always a broadcast.
    All attributes are integer calendar arithmetic — no timezone or
    epoch math to drift (dates stay DATE end to end)."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(F.min(F.to_date("o_orderdate")).alias("lo"),
                        F.max(F.to_date("o_orderdate")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    # dayofweek: Sunday=1..Saturday=7; ISO wants Monday=1..Sunday=7
    iso = F.when(F.dayofweek("day") == 1, 7).otherwise(F.dayofweek("day") - 1)
    return spine.select(
        "day",
        F.year("day").cast("long").alias("year"),
        F.month("day").cast("long").alias("month"),
        F.dayofmonth("day").cast("long").alias("dom"),
        iso.cast("long").alias("iso_dow"),
        (iso >= 6).alias("is_weekend"),
        F.trunc("day", "month").alias("month_start"),
        F.last_day("day").alias("month_end"))


# ---------------------------------------------------------------------------
# Multi-horizon lag features (forecasting feature bank)
# ---------------------------------------------------------------------------

@query("win_lag_multi_horizon", oracle="""
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY user_id, day
)
SELECT user_id, day, ROUND(v, 6) AS v,
       ROUND(lag(v, 1) OVER w, 6) AS v_lag1,
       ROUND(lag(v, 7) OVER w, 6) AS v_lag7,
       ROUND(lag(v, 14) OVER w, 6) AS v_lag14,
       ROUND(v - lag(v, 7) OVER w, 6) AS wow_diff
FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)
""")
def win_lag_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-HORIZON LAG feature bank — the forecasting prep staple:
    yesterday / last week / two weeks ago plus the week-over-week
    delta, per (user, day). All horizons compile onto ONE window spec
    over the DAILY aggregate (aggregate-then-window again: the lag
    bank sorts the per-user day series, never raw events), so adding a
    horizon costs one expression, not one shuffle. Positional lags
    over the observed day series — for calendar-exact lags on sparse
    series, left-join `date_spine_calendar` first (the two ops
    compose); the fixture's days are dense so both definitions
    coincide. DECIMAL daily sums; lags copy those doubles untouched."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull() & ~F.isnan("value")))
    d = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
           .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("v")))
    w = W.partitionBy("user_id").orderBy("day")
    return d.select(
        "user_id", "day", F.round("v", 6).alias("v"),
        F.round(F.lag("v", 1).over(w), 6).alias("v_lag1"),
        F.round(F.lag("v", 7).over(w), 6).alias("v_lag7"),
        F.round(F.lag("v", 14).over(w), 6).alias("v_lag14"),
        F.round(F.col("v") - F.lag("v", 7).over(w), 6).alias("wow_diff"))


# ---------------------------------------------------------------------------
# Referential-integrity audit (orphan foreign keys, both directions)
# ---------------------------------------------------------------------------

@query("audit_fk_integrity", oracle="""
SELECT 'events_orphan_users' AS check_name,
       CAST((SELECT COUNT(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id)) AS BIGINT) AS n
UNION ALL
SELECT 'customers_without_events' AS check_name,
       CAST((SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM events e
                               WHERE e.user_id = c.c_custkey)) AS BIGINT) AS n
UNION ALL
SELECT 'lineitem_orphan_orders' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n
""")
def audit_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT — the ingest gate that catches
    broken joins before they silently drop rows downstream: orphan
    foreign keys counted by ANTI join in both directions (facts
    pointing at missing dims AND dims never referenced). Each check is
    one anti join whose small side broadcasts (dim keys) or shuffles
    once (fact-fact); the three counts union into one audit report
    row-set — the profile_table pattern for cross-table invariants.
    Zero counts here are the assertion PASSING on this fixture, not a
    vacuous check: any future fixture drift that breaks a key
    relationship flips a count and fails the hash."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("check_name"), "n")

    c1 = one("events_orphan_users",
             ev.join(cust.select(F.col("c_custkey").alias("user_id")),
                     "user_id", "left_anti"))
    c2 = one("customers_without_events",
             cust.join(ev.select(F.col("user_id").alias("c_custkey"))
                         .distinct(),
                       "c_custkey", "left_anti"))
    c3 = one("lineitem_orphan_orders",
             li.join(orders.select(F.col("o_orderkey").alias("l_orderkey")),
                     "l_orderkey", "left_anti"))
    return c1.unionByName(c2).unionByName(c3)
