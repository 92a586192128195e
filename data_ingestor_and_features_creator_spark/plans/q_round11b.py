"""Round-11 operator batch B (SURVEY.md §2 growth): the community /
structure side of the graph family over a SPARSE fixture — connected
components, bounded-peel k-core, synchronous label propagation, local
clustering coefficients, and Adamic-Adar link prediction.

All five share one deterministic graph: the BRAND-RESTRICTED PART
CO-PURCHASE graph (two parts are connected when they appear in the
same order AND share p_brand). Brands partition the node set, so the
graph is guaranteed sparse and multi-component (≥ one component per
brand; 25 components / 1,978 nodes / 4,685 edges at sf0.01) — the
shape where component/community operators are actually interesting,
complementing the 91%-dense supplier co-purchase fixture the triangle
family stresses.

House rules throughout (plans/registry.py): aliases identical on both
engines, ranks taken over ROUNDED scores so cross-engine float fold
order can never flip a top-k boundary, integer counts CAST AS BIGINT
in DuckDB, no unpartitioned windows over raw rows, no static
broadcast hints on SF-scaling sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import r6, r6_sql
from .registry import query

# ---------------------------------------------------------------------------
# Shared fixture: brand-restricted part co-purchase graph
# ---------------------------------------------------------------------------

# DuckDB twin of _copurchase_edges: distinct undirected edges (a < b)
# plus the symmetric view every per-node aggregate runs on.
# e and sym are AS MATERIALIZED: every consumer references sym (and
# through it e) several times, and DuckDB's default CTE inlining would
# re-run the lineitem self-join once per reference.
_E_CTES = """
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pb AS (SELECT p_partkey, p_brand FROM part),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
         GREATEST(l1.l_partkey, l2.l_partkey) AS b
  FROM li l1 JOIN li l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  JOIN pb p1 ON p1.p_partkey = l1.l_partkey
  JOIN pb p2 ON p2.p_partkey = l2.l_partkey
  WHERE p1.p_brand = p2.p_brand),
sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (a, b), a < b — parts co-purchased under one brand.

    Scale shape: the lineitem self-join fans out per ORDER (bounded by
    order size, not table size), the brand predicate prunes BEFORE the
    distinct, and the join keys are scan-native — at 100 TB this is
    one shuffle on l_orderkey plus two dimension joins AQE can turn
    into broadcasts from runtime bytes (never hinted statically:
    part scales with SF)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_partkey")
    pb = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    l2 = li.select(F.col("l_orderkey").alias("o2"),
                   F.col("l_partkey").alias("k2"))
    return (li.join(l2, (li.l_orderkey == l2.o2)
                    & (li.l_partkey < l2.k2))
              .join(pb.withColumnRenamed("p_brand", "brand_a"),
                    F.col("l_partkey") == F.col("p_partkey"))
              .drop("p_partkey")
              .join(pb.withColumnRenamed("p_brand", "brand_b"),
                    F.col("k2") == F.col("p_partkey"))
              .filter(F.col("brand_a") == F.col("brand_b"))
              .select(F.col("l_partkey").alias("a"),
                      F.col("k2").alias("b"))
              .distinct())


def _sym(e: DataFrame) -> DataFrame:
    """Symmetric (u, v) view of the undirected edge set."""
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v")))


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

@query("graph_connected_components", oracle=f"""
WITH RECURSIVE
{_E_CTES},
walk(n, l) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.v, w.l FROM walk w JOIN sym s ON s.u = w.n)
SELECT n AS node, CAST(MIN(l) AS BIGINT) AS component
FROM walk GROUP BY n
""")
def graph_connected_components(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CONNECTED COMPONENTS as a first-class registered operator
    (round 11; previously only embedded inside dedup_minhash_cluster's
    keep/drop logic): every co-purchased part labeled with the MINIMUM
    part key reachable in its component — the canonical deterministic
    representative, which is exactly what the oracle's recursive-CTE
    transitive closure computes, so the per-node labels hash-compare
    directly. The Spark plan is the library's one CC operator,
    large-star/small-star contraction (operators/graph.py
    connected_components_star — O(log² n) rounds, or one driver finish
    for graphs of at most LOCAL_EDGES edges), pinned against a plain
    union-find on chain/clique/random graphs in tests/test_llm_ops.py.
    The closure oracle is O(Σ component²) — fine on the brand-sharded
    fixture, which is WHY this operator runs on the sparse graph and
    not the 91%-dense supplier fixture."""
    from ..operators.graph import connected_components_star
    e = _copurchase_edges(spark, sf_dir)
    return connected_components_star(e).select(
        F.col("n").alias("node"),
        F.col("cluster_id").cast("long").alias("component"))


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 12


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled peel: r_i = nodes of r_{i-1} with ≥ k surviving
    neighbors. A fixpoint needs iterate-with-aggregate, which
    recursive CTEs disallow (no GROUP BY in the recursive member), so
    the oracle unrolls a FIXED round budget; the Spark side early-exits
    at its fixpoint, after which further peel rounds are identities —
    the two agree whenever the fixture converges within the budget,
    and the plan-shape test pins that convergence margin. Every round
    CTE is AS MATERIALIZED: each round references the previous one
    TWICE, and DuckDB's default CTE inlining would otherwise expand
    round r into 2^r scans of the base table (observed as an
    fd-exhaustion fault at 12 rounds)."""
    ctes = [f"{_E_CTES.strip()},",
            "r0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM sym)"]
    for i in range(1, rounds + 1):
        ctes.append(f""",
r{i} AS MATERIALIZED (
  SELECT s.u AS n FROM sym s
  JOIN r{i - 1} x ON x.n = s.u
  JOIN r{i - 1} y ON y.n = s.v
  GROUP BY s.u HAVING COUNT(*) >= {k})""")
    return f"""
WITH {''.join(ctes)}
SELECT s.u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM sym s
JOIN r{rounds} x ON x.n = s.u
JOIN r{rounds} y ON y.n = s.v
GROUP BY s.u
"""


@query("graph_kcore", oracle=_kcore_sql(_KCORE_K, _KCORE_ROUNDS))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE DECOMPOSITION (k=3) by iterative peeling (Matula & Beck
    [PK]): repeatedly delete nodes with degree < k until the 3-core —
    the maximal subgraph where everyone keeps ≥ 3 surviving neighbors
    — remains; emits each core member with its in-core degree. The
    dense-subgraph prefilter for community mining and spam/cabal
    detection at corpus scale. Spark peels with a count fixpoint probe
    and early exit (each round: one semi-join restriction + one degree
    aggregate, remaining-set localCheckpoint so the lineage stays
    O(1)); the oracle unrolls 12 rounds — identical once converged,
    see _kcore_sql. Scale: each round SHRINKS the live node set
    monotonically; degrees are map-side combinable counts keyed on the
    node; nothing is ever all-pairs."""
    e = _copurchase_edges(spark, sf_dir)
    # Round 12 (guide §2.4): sym is loop-invariant and every round's
    # first restriction joins it on u (as does the final core-degree
    # pass) — cache it hash-partitioned and sorted by u so those joins
    # skip the full 2|E| exchange+sort every round (cache preserves
    # partitioning/ordering into the InMemoryRelation; localCheckpoint
    # does not — probed UnknownPartitioning on this Spark).
    sym = (_sym(e).repartition("u").sortWithinPartitions("u").cache())
    remaining = sym.select(F.col("u").alias("n")).distinct()
    n_prev = remaining.count()
    for _ in range(_KCORE_ROUNDS):
        deg = (sym.join(remaining.select(F.col("n").alias("u")), "u")
                  .join(remaining.select(F.col("n").alias("v")), "v")
                  .groupBy("u").agg(F.count(F.lit(1)).alias("d")))
        remaining = (deg.filter(F.col("d") >= _KCORE_K)
                        .select(F.col("u").alias("n")).localCheckpoint())
        n_new = remaining.count()
        if n_new == n_prev:
            break
        n_prev = n_new
    return (sym.join(remaining.select(F.col("n").alias("u")), "u")
               .join(remaining.select(F.col("n").alias("v")), "v")
               .groupBy("u").agg(F.count(F.lit(1)).cast("long")
                                  .alias("core_deg"))
               .select(F.col("u").alias("node"), "core_deg"))


# ---------------------------------------------------------------------------
# Synchronous label propagation (3 rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_sql(rounds: int) -> str:
    """Unrolled synchronous LPA: every node simultaneously adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label — fully deterministic, so a fixed round count is
    exactly reproducible on both engines (asynchronous/random-order
    LPA variants are not, which is why the sync form is the one that
    can carry a hash oracle)."""
    ctes = [f"{_E_CTES.strip()},",
            "l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM sym)"]
    for i in range(1, rounds + 1):
        ctes.append(f""",
l{i} AS (
  SELECT n, lbl FROM (
    SELECT s.u AS n, w.lbl,
           ROW_NUMBER() OVER (PARTITION BY s.u
                              ORDER BY COUNT(*) DESC, w.lbl) AS rk
    FROM sym s JOIN l{i - 1} w ON w.n = s.v
    GROUP BY s.u, w.lbl)
  WHERE rk = 1)""")
    return f"""
WITH {''.join(ctes)}
SELECT n AS node, CAST(lbl AS BIGINT) AS label FROM l{rounds}
"""


@query("graph_label_propagation", oracle=_lpa_sql(_LPA_ROUNDS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION via SYNCHRONOUS label propagation (Raghavan
    et al. [PK]), 3 rounds: labels start as node ids; each round every
    node adopts its neighborhood's modal label (ties → smallest
    label). The sync/deterministic variant is the one a distributed
    engine wants anyway (async LPA serializes) and the only one that
    can be hash-checked cross-engine; 3 fixed rounds on BOTH sides
    keeps the comparison exact whether or not the labeling has
    stabilized. Per round: one shuffle keyed on the node for the
    (node, label) frequency aggregate, one window over those counts
    (partitioned by node — never global), labels localCheckpointed so
    lineage stays O(1). At 100 TB each round is a groupBy the size of
    the edge set — the canonical Pregel-in-DataFrames shape."""
    e = _copurchase_edges(spark, sf_dir)
    # Round 12 (guide §2.4): sym is loop-invariant and every round
    # joins it on v — cache it hash-partitioned and sorted by v so the
    # per-round join skips the full 2|E| exchange+sort (see
    # graph_kcore's comment; localCheckpoint loses partitioning).
    sym = (_sym(e).repartition("v").sortWithinPartitions("v").cache())
    lab = sym.select(F.col("u").alias("n")).distinct() \
             .withColumn("lbl", F.col("n"))
    for _ in range(_LPA_ROUNDS):
        freq = (sym.join(lab.select(F.col("n").alias("v"),
                                    F.col("lbl").alias("wlbl")), "v")
                   .groupBy("u", "wlbl").agg(F.count(F.lit(1)).alias("c")))
        wv = W.partitionBy("u").orderBy(F.desc("c"), "wlbl")
        lab = (freq.withColumn("rk", F.row_number().over(wv))
                   .filter(F.col("rk") == 1)
                   .select(F.col("u").alias("n"),
                           F.col("wlbl").alias("lbl"))
                   .localCheckpoint())
    return lab.select(F.col("n").alias("node"),
                      F.col("lbl").cast("long").alias("label"))


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------

@query("graph_local_clustering", oracle=f"""
WITH {_E_CTES.strip()},
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
tri AS (
  SELECT s1.u AS n, CAST(COUNT(*) AS BIGINT) AS t
  FROM sym s1 JOIN sym s2
    ON s1.u = s2.u AND s1.v < s2.v
  JOIN e ON e.a = s1.v AND e.b = s2.v
  GROUP BY s1.u),
lcc AS (
  SELECT deg.u AS node, deg.d AS deg, COALESCE(tri.t, 0) AS tri,
         2.0 * COALESCE(tri.t, 0) / (deg.d * (deg.d - 1)) AS lcc
  FROM deg LEFT JOIN tri ON tri.n = deg.u
  WHERE deg.d >= 2)
SELECT node, deg, tri, lcc
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lcc DESC, node) AS r
      FROM lcc)
WHERE r <= 50
""")
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz [PK]): per node,
    closed wedges / possible wedges = 2·tri(v) / d(v)(d(v)−1) — the
    per-node refinement of the global triangle count, and the
    ego-density feature community detectors and link-spam filters key
    on. Top-50 under (lcc DESC, node): lcc is a ratio of two SMALL
    INTEGERS, so both engines compute the identical IEEE double —
    emitted UNROUNDED and safe to ORDER BY directly (ties broken by
    the unique node id). Scale: wedge enumeration fans out Σ C(d,2) —
    bounded on this brand-sharded fixture by construction; on power-law
    graphs the same plan wants the degree-ordered orientation the
    triangle family documents. Triangle closure is an equi-join
    against the (a,b)-oriented edge set — never all-pairs."""
    e = _copurchase_edges(spark, sf_dir).cache()
    sym = _sym(e)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s2 = sym.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    tri = (sym.join(s2, (sym.u == s2.u2) & (sym.v < s2.w))
              .join(e, (F.col("v") == e.a) & (F.col("w") == e.b))
              .groupBy("u").agg(F.count(F.lit(1)).alias("t")))
    lcc = (deg.join(tri, "u", "left")
              .filter(F.col("d") >= 2)
              .select(F.col("u").alias("node"),
                      F.col("d").cast("long").alias("deg"),
                      F.coalesce("t", F.lit(0)).cast("long").alias("tri"),
                      (F.lit(2.0) * F.coalesce("t", F.lit(0))
                       / (F.col("d") * (F.col("d") - 1))).alias("lcc")))
    wr = W.orderBy(F.desc("lcc"), "node")
    return (lcc.withColumn("r", F.row_number().over(wr))
               .filter(F.col("r") <= 50).drop("r"))


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------

@query("graph_adamic_adar", oracle=f"""
WITH {_E_CTES.strip()},
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
wed AS (
  SELECT s1.v AS x, s2.v AS y, s1.u AS w
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v),
cand AS (
  SELECT wed.x, wed.y,
         CAST(COUNT(*) AS BIGINT) AS common,
         {r6_sql('SUM(1.0 / LN(deg.d))')} AS aa
  FROM wed JOIN deg ON deg.u = wed.w
  WHERE NOT EXISTS (SELECT 1 FROM e
                    WHERE e.a = wed.x AND e.b = wed.y)
  GROUP BY wed.x, wed.y)
SELECT x AS node_a, y AS node_b, common, aa
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY aa DESC, x, y) AS r
      FROM cand)
WHERE r <= 20
""")
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR LINK PREDICTION (Adamic & Adar [PK]; the strongest
    classical common-neighbor score in Liben-Nowell & Kleinberg's
    survey): for NON-adjacent pairs sharing ≥1 neighbor, score
    Σ_{{w ∈ Γ(x)∩Γ(y)}} 1/ln(deg(w)) — rare shared neighbors count
    more — and emit the 20 strongest predicted links. Candidate pairs
    come from WEDGE enumeration (distance-2 only), never all-pairs,
    with adjacency removed by an anti-join against the oriented edge
    set; a wedge center has degree ≥ 2 so ln(deg) is never 0. The
    top-20 ranks on the ROUNDED score (r6 on both engines) — a raw
    float sum's fold order differs across engines, and a boundary tie
    must break on the deterministic pair, not on the last ulp.
    Scale: same Σ C(d,2) wedge bound as graph_local_clustering."""
    e = _copurchase_edges(spark, sf_dir).cache()
    sym = _sym(e)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s2 = sym.select(F.col("u").alias("u2"), F.col("v").alias("y"))
    wed = (sym.join(s2, (sym.u == s2.u2) & (sym.v < s2.y))
              .select(F.col("v").alias("x"), "y", F.col("u").alias("w")))
    cand = (wed.join(deg.select(F.col("u").alias("w"),
                                F.col("d").alias("dw")), "w")
               .join(e, (wed.x == e.a) & (wed.y == e.b), "left_anti")
               .groupBy("x", "y")
               .agg(F.count(F.lit(1)).cast("long").alias("common"),
                    r6(F.sum(F.lit(1.0) / F.log(F.col("dw"))))
                    .alias("aa")))
    wr = W.orderBy(F.desc("aa"), "x", "y")
    return (cand.withColumn("r", F.row_number().over(wr))
                .filter(F.col("r") <= 20).drop("r")
                .select(F.col("x").alias("node_a"),
                        F.col("y").alias("node_b"), "common", "aa"))
