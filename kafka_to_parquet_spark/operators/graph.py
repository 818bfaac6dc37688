"""Graph analytics on two derived relations, and the one definition of
each graph every graph query reads.

Shared definitions (one Spark definition, one DuckDB fragment each;
the graph queries here and in batch7/8/9 import them, and
tests/test_hashes.py guards that no other module spells them):

- the customer–supplier TRADE GRAPH: ``trade_lines`` /
  ``TRADE_LINES_SQL`` (one customer → supplier row per lineitem,
  customers 2·custkey, suppliers 2·suppkey+1), ``trade_edges`` /
  ``TRADE_EDGES_CTES`` (counted pairs (src, dst, n_txn) in both
  directions), and ``symmetric`` (both directions, hashed and sorted
  on src, no distinct);
- the part CO-PURCHASE graph: ``_part_pairs`` / ``_PAIRS_CTE``
  (support-counted part pairs) and ``gated_pairs`` /
  ``gated_pairs_sql`` (pairs above a support quantile);
- the (degree, id) edge ORIENTATION: ``orient`` / ``ORIENT_CTES``;
- the LABEL-PROPAGATION round body: ``label_propagation`` /
  ``lpa_sql`` (neighbour-label count, ties to the smallest label).

Iterative kernels run as a bounded chain of join+aggregate rounds —
the dataflow GraphX/Pregel lower to — with nothing driver-side but the
loop counter. PageRank's determinism: classic PageRank sums doubles
in shuffle order, which no oracle can reproduce. Here every quantity
is an integer number of 1e-12 "rank units" and each round is

    r' = base + (85 · Σ_in (r // outdeg)) // 100,   base = (15·(T//N))//100

— integer division and integer sums are order-independent, so Spark
and DuckDB produce bit-equal ranks at any scale. (The truncation per
round loses < outdeg units per node — irrelevant at T = 1e12.)

"Each round exchanges only the node-sized relation" (said of the
kernels below) holds once the edges outgrow
``spark.sql.autoBroadcastJoinThreshold``. Under it, AQE broadcasts the
whole edge relation every round (4 MiB, the 97,000 trade edges, per
PageRank round at sf0.01), and the edges' layout goes unused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo, park
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

_T = 1_000_000_000_000  # total rank mass, in units
_ROUNDS = 3

# The graphs the iterative kernels share are FEATURE-level memo
# entries, one per graph (the counted trade graph, the co-occurrence
# pairs); a kernel derives its decoration (outdeg, weight) from its
# graph's entry instead of persisting a decorated copy. The graph an
# iterative kernel runs on is an INPUT feature a production pipeline
# builds once and amortizes across analyses, not the kernel's answer,
# so every kernel's per-sample honest cost is its ROUNDS and audits.
# Rounds a later plan reads again go through cache.park and are
# released between timed samples. Edges persist (not localCheckpoint)
# so the InMemoryTableScan advertises the build's partitioning and
# ordering and per-round joins never re-exchange them.

# ---------------------------------------------------------------------------
# The customer–supplier trade graph
# ---------------------------------------------------------------------------

TRADE_LINES_SQL = (
    "SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
    " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)

# `e0` = customer → supplier pairs with their lineitem count n_txn,
# `edges` = both directions of the pairs. The oracle keeps the set
# UNION: it states the graph's definition, which `trade_edges` reaches
# without a distinct (see `symmetric`).
TRADE_EDGES_CTES = f"""e0 AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_txn
  FROM ({TRADE_LINES_SQL}) GROUP BY src, dst
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)"""


def trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (src, dst) row per lineitem (Spark side of TRADE_LINES_SQL):
    customer 2·custkey → supplier 2·suppkey+1."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )


def symmetric(e0: DataFrame) -> DataFrame:
    """``e0`` and its reversal (extra columns ride along), hashed and
    sorted on src so per-round joins on src never re-exchange it.

    No distinct: ``e0`` must be one-directional, so no reversed edge
    equals a forward one — trade edges run from even (customer) to odd
    (supplier) ids, co-purchase pairs have pa < pb."""
    rest = [c for c in e0.columns if c not in ("src", "dst")]
    rev = e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
    return e0.unionByName(rev).repartition(F.col("src")).sortWithinPartitions("src")


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric trade graph (src, dst, n_txn) of TRADE_EDGES_CTES,
    n_txn the pair's lineitem count: the one persisted trade-graph
    entry, so it stays warm across ``clear_result_caches`` and
    ``clear_caches`` releases it. Kernels project their decorations
    from it (PageRank's outdeg, SSSP's weight)."""

    def build() -> DataFrame:
        e0 = trade_lines(spark, sf_dir).groupBy("src", "dst").agg(
            F.count("*").alias("n_txn")
        )
        return symmetric(e0).persist()

    return memo(spark, sf_dir, "trade_edges", build)


# ---------------------------------------------------------------------------
# The part co-purchase graph, its orientation and label propagation
# ---------------------------------------------------------------------------

# Minimum co-order support for an edge. The fixture's graph density
# INVERTS with scale (more parts spread the same per-order fan-out),
# so the triangle count falls as SF grows — the plan shape, not the
# count, is the scale story.
MIN_SUP = 2
COPURCHASE_K = 30

# Shared DuckDB CTE block ending in `pairs` (support-counted part
# pairs co-occurring in an order).
_PAIRS_CTE = """pl AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS support
  FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
)"""


def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-counted co-order part pairs (Spark side of _PAIRS_CTE).

    Shape: the self-join keys on l_orderkey, so the pair blow-up is
    quadratic only in the per-order line count (bounded by order size,
    ~4-7 lines) — the shuffle carries (order, part) distinct rows once
    per side and the pair aggregate combines map-side on (pa, pb).

    Memoized as a feature: the co-purchase queries (pairs, pmi, graph
    jaccard/triangles/clustering-coeff/modularity, adamic-adar) all
    read this projection, and each one's per-sample cost is its own
    joins/rounds."""

    def _build() -> DataFrame:
        pl = (
            load(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        left = pl.select("o", F.col("p").alias("pa"))
        right = pl.select("o", F.col("p").alias("pb"))
        return (
            left.join(right, "o")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count("*").alias("support"))
        )

    return memo(spark, sf_dir, "part_pairs_support", lambda: _build().persist())


def gated_pairs_sql(q: float) -> str:
    """DuckDB CTEs `kq` and `e` over _PAIRS_CTE's `pairs`: the (pa, pb)
    pairs whose support is strictly above the q disc-quantile of all
    supports."""
    return f"""kq AS (SELECT CAST(quantile_disc(support, {q}) AS BIGINT) AS ks FROM pairs),
e AS (SELECT pa, pb FROM pairs CROSS JOIN kq WHERE support > ks)"""


def gated_pairs(spark: SparkSession, sf_dir: str, q: float) -> DataFrame:
    """Spark side of ``gated_pairs_sql(q)``, a persisted feature entry
    (percentile_disc and quantile_disc select the same element).

    A quantile gate is scale-free where a fixed literal like MIN_SUP is
    not: 10x-replicating the fixture multiplies every pair's support by
    10, so "support >= 2" stops filtering and the graph densifies 340x
    (3,573 -> 1,196,000 edges, measured), blowing the wedge join up
    35x. At sf0.1 p99 = 1, so "> p99" IS ">= 2"; on the 10x corpus
    p99 = 10 recovers exactly the pre-replication edge set."""

    def build() -> DataFrame:
        pp = _part_pairs(spark, sf_dir)
        kq = pp.selectExpr(
            f"CAST(percentile_disc({q}) WITHIN GROUP (ORDER BY support)"
            " AS BIGINT) AS ks"
        )
        return (
            pp.crossJoin(F.broadcast(kq))
            .filter(F.col("support") > F.col("ks"))
            .select("pa", "pb")
            .persist()
        )

    return memo(spark, sf_dir, f"part_pairs_above_q{q}", build)


# DuckDB CTEs over an edge CTE `e` (pa, pb): `deg` (n, d) and the
# oriented edges `o` (u, v).
ORIENT_CTES = """deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS n FROM e UNION ALL SELECT pb FROM e) GROUP BY n
),
o AS (
  SELECT CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS u,
         CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS v
  FROM e JOIN deg da ON da.n = pa JOIN deg db ON db.n = pb
)"""


def orient(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered orientation of an undirected edge set (pa, pb)
    (Spark side of ORIENT_CTES): returns the node degrees (n, d) and
    the edges (u, v), each pointing from the (degree, id)-smaller
    endpoint to the larger. This is THE classic triangle-counting
    bound: every oriented out-neighborhood is O(√m), so the wedge join
    is O(m^1.5) worst-case instead of Σ deg² on hub nodes."""
    deg = (
        e.select(F.col("pa").alias("n"))
        .union(e.select(F.col("pb").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("n").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("pb"), F.col("d").alias("db"))
    lower = F.struct(F.col("da"), F.col("pa")) < F.struct(F.col("db"), F.col("pb"))
    o = e.join(da, "pa").join(db, "pb").select(
        F.when(lower, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(lower, F.col("pb")).otherwise(F.col("pa")).alias("v"),
    )
    return deg, o


def lpa_sql(rounds: int) -> str:
    """DuckDB CTEs l0..l{rounds} over an `edges` (src, dst) CTE: the
    rounds of ``label_propagation``."""
    ctes = ["l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"]
    for k in range(1, rounds + 1):
        ctes.append(f"""c{k} AS (
  SELECT e.dst AS node, l.lab AS lab, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l{k - 1} l ON l.node = e.src
  GROUP BY e.dst, l.lab
)""")
        ctes.append(f"""l{k} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM c{k})
  WHERE rn = 1
)""")
    return ",\n".join(ctes)


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` synchronous label-propagation sweeps over symmetric
    ``edges`` (src, dst) (Spark side of ``lpa_sql``): every node starts
    labeled with itself, then each round adopts the most frequent
    neighbour label, ties to the smallest label. Each round reads the
    previous one once, so the rounds chain without a boundary.

    Per round: edges ⋈ labels on src (only the node-sized label
    relation exchanges when edges are pre-hashed on src), the
    neighbour-label count combines map-side into (node, lab, c), and
    the argmax window partitions by node."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab").asc())
    for _ in range(rounds):
        freq = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("node2").alias("node"), "lab", "c")
        )
        labels = (
            freq.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
        )
    return labels


# ---------------------------------------------------------------------------
# PageRank and degree distribution over the trade graph
# ---------------------------------------------------------------------------

def _oracle_sql() -> str:
    """Chained-CTE mirror of the Spark loop (same integer ops)."""
    ctes = [
        TRADE_EDGES_CTES,
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        f"""par AS (
  SELECT {_T} // count(*) AS r_init,
         (15 * ({_T} // count(*))) // 100 AS base
  FROM nodes
)""",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, (SELECT r_init FROM par) AS r FROM nodes)",
    ]
    for k in range(1, _ROUNDS + 1):
        ctes.append(
            f"""c{k} AS (
  SELECT e.dst AS node, sum(r{k - 1}.r // deg.outdeg) AS s
  FROM edges e JOIN deg ON e.src = deg.src JOIN r{k - 1} ON r{k - 1}.node = e.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{k} AS (
  SELECT n.node, (SELECT base FROM par) + (85 * COALESCE(c{k}.s, 0)) // 100 AS r
  FROM nodes n LEFT JOIN c{k} ON c{k}.node = n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(r AS BIGINT) AS rank_units FROM r{_ROUNDS}"
    )


@query("q_graph_pagerank", oracle=_oracle_sql())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 rounds, integer fixed-point) on the
    symmetric customer↔supplier graph induced by orders⋈lineitem
    (customer nodes = 2·custkey, supplier nodes = 2·suppkey+1).

    Shape per round: edges ⋈ ranks on src → contributions partial-
    aggregated on dst. Two physical choices make the round cheap:

    * outdeg is a ``count(*) OVER (PARTITION BY src)`` over
      trade_edges, which is persisted hashed and sorted on src (not
      localCheckpoint-ed: an InMemoryTableScan advertises the cached
      plan's partitioning and ordering, a checkpointed RDD scan does
      not). The window and every round's sort-merge join on src keep
      that layout, so each round exchanges and sorts ONLY the
      node-sized ranks relation, never the edges, and no decorated
      copy of the graph is persisted.
    * the symmetric construction guarantees indegree ≥ 1 for every
      node, so the contribution aggregate already covers the full node
      set and no left-join back to ``nodes`` is needed (the oracle
      keeps the LEFT JOIN + COALESCE form; the COALESCE never fires,
      values are identical — pinned by the mass-conservation test).

    Per round that leaves one exchange of (node, rank) pairs and one
    edge-local partial aggregation — the Pregel dataflow — with a flat
    per-round plan and no driver-side rows."""
    edges = trade_edges(spark, sf_dir)
    edges_d = edges.select(
        "src", "dst", F.count("*").over(Window.partitionBy("src")).alias("outdeg")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    par = park(
        nodes.agg(
            F.expr(f"{_T} DIV count(*)").alias("r_init"),
            F.expr(f"(15 * ({_T} DIV count(*))) DIV 100").alias("base"),
        ),
        spark,
        sf_dir,
    )

    ranks = nodes.crossJoin(F.broadcast(par)).select(
        "node", F.col("r_init").alias("r")
    )
    for _ in range(_ROUNDS):
        contrib = (
            edges_d.join(ranks, edges_d.src == ranks.node)
            .select("dst", F.expr("r DIV outdeg").alias("part"))
            .groupBy("dst")
            .agg(F.sum("part").alias("s"))
        )
        ranks = contrib.crossJoin(F.broadcast(par)).select(
            F.col("dst").alias("node"),
            F.expr("base + (85 * s) DIV 100").alias("r"),
        )
    return ranks.select("node", F.col("r").cast("long").alias("rank_units"))


@query(
    "q_graph_degree",
    oracle=f"""
WITH {TRADE_EDGES_CTES},
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY src)
SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
       degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg
GROUP BY side, degree
""",
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer↔supplier trade graph, per
    node side — the skew diagnostic read before running any iterative
    graph algorithm (a heavy-tailed degree histogram is the signal to
    salt or cap hot vertices).

    Shape: per-node degree is a count keyed on src over trade_edges
    (already hashed on src, so it needs no exchange), and the histogram
    is a second aggregate on the tiny (side, degree) key; nothing is
    edge-quadratic and the result is |distinct degrees|-sized
    regardless of graph volume."""
    deg = trade_edges(spark, sf_dir).groupBy("src").agg(F.count("*").alias("degree"))
    return (
        deg.select(
            F.when(F.col("src") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("side"),
            "degree",
        )
        .groupBy("side", "degree")
        .agg(F.count("*").alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# Part co-occurrence graph: pair mining + degree-ordered triangle count
# ---------------------------------------------------------------------------


@query(
    "q_copurchase_pairs",
    oracle=f"""
WITH {_PAIRS_CTE}
SELECT pa, pb, support FROM pairs
ORDER BY support DESC, pa, pb
LIMIT {COPURCHASE_K}
""",
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise frequent-itemset mining (the co-purchase / association
    head): the top-{K} part pairs by number of orders containing both.
    This is the support-counting core of Apriori/FP-growth restricted
    to pairs — the variant that actually runs at retail scale.

    Shape: see _part_pairs (order-keyed self-join, bounded per-order
    blow-up, map-side combine); the report is a TakeOrderedAndProject
    over the (support desc, pa, pb) key — unique pair keys make the
    LIMIT a deterministic set."""
    return (
        _part_pairs(spark, sf_dir)
        .orderBy(F.desc("support"), F.asc("pa"), F.asc("pb"))
        .limit(COPURCHASE_K)
    )


# Oriented-edge cache: the triangle count references the oriented edge
# set three times (e1, e2, e3); without a materialization boundary
# each reference re-runs the pair self-join + degree join upstream.
def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orient`` over the pairs with support >= MIN_SUP, persisted."""

    def build() -> DataFrame:
        e = _part_pairs(spark, sf_dir).filter(F.col("support") >= MIN_SUP)
        return orient(e.select("pa", "pb"))[1].persist()

    return memo(spark, sf_dir, "oriented_edges", build)


@query(
    "q_graph_triangles",
    oracle=f"""
WITH {_PAIRS_CTE},
e AS (SELECT pa, pb FROM pairs WHERE support >= {MIN_SUP}),
{ORIENT_CTES}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(max(cnt) AS BIGINT)
        FROM (SELECT count(*) AS cnt FROM o GROUP BY u)) AS max_out,
       (SELECT CAST(count(*) AS BIGINT)
        FROM o e1 JOIN o e2 ON e1.v = e2.u
                  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-occurrence graph (edges =
    part pairs co-ordered in ≥ MIN_SUP orders) — the canonical
    clustering-coefficient / community-structure statistic, and the
    canonical example of taming a join explosion by ORIENTING first.

    Shape: degree-ordered orientation (see _oriented_edges) caps every
    out-neighborhood at O(√m); the wedge join (e1.v = e2.u) then emits
    Σ outdeg(u)·outdeg(v) ≤ O(m^1.5) candidates instead of hub-degree-
    squared, and the closing equi-join on (u, w) filters them to
    actual triangles. Each triangle is counted exactly once (its
    orientation-minimal vertex sees it once). All three joins
    hash-partition on node keys; the oriented edge set is persisted
    once and reused by all three references. max_out is emitted as
    evidence of the √m bound."""
    o = _oriented_edges(spark, sf_dir)
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = (
        o.select(F.col("u").alias("n"))
        .union(o.select(F.col("v").alias("n")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    edges = o.agg(F.count("*").alias("n_edges"))
    maxout = o.groupBy("u").agg(F.count("*").alias("cnt")).agg(
        F.max("cnt").alias("max_out")
    )
    return (
        nodes.crossJoin(edges)
        .crossJoin(maxout)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "max_out", "n_triangles")
    )


# ---------------------------------------------------------------------------
# Co-purchase PMI: association strength normalized by item popularity
# ---------------------------------------------------------------------------

PMI_MIN_SUP = 3  # pairs below this are noise-dominated (PMI of rare pairs explodes)
PMI_K = 30


@query(
    "q_copurchase_pmi",
    oracle=f"""
WITH {_PAIRS_CTE},
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem),
ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM pl GROUP BY p)
SELECT pa, pb, support,
       CAST(floor(ln(support * n_orders * 1.0 / (ca.c * cb.c)) * 1000000 + 0.5)
            AS BIGINT) AS pmi_mu
FROM pairs
JOIN ic ca ON pairs.pa = ca.p
JOIN ic cb ON pairs.pb = cb.p
CROSS JOIN n
WHERE support >= {PMI_MIN_SUP}
ORDER BY pmi_mu DESC, pa, pb
LIMIT {PMI_K}
""",
)
def q_copurchase_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over co-purchase pairs — the
    popularity-normalized association measure (raw support just
    rediscovers the bestsellers; PMI surfaces pairs bought together
    MORE than their popularities predict, the signal a
    recommender/substitution analysis actually wants):
    PMI = ln( p(a,b) / (p(a)·p(b)) ) = ln( support·N / (c_a·c_b) ).

    Engine stability: the ln argument is a single double division of
    exact 63-bit integer products (support·N and c_a·c_b both ≪ 2^62),
    identical in both engines, and the result is fenced to integer
    micro-nats — the corpus_stats.py log-prob discipline. A minimum
    support of PMI_MIN_SUP keeps the rare-pair PMI explosion out of the
    ranking (declared, oracle-mirrored).

    Shape: reuses _part_pairs (order-keyed self-join, per-order-bounded
    blow-up); item counts are one hash agg over the distinct (order,
    part) list; the 1-row order count and the item-count table
    broadcast into the pair stream; TakeOrderedAndProject emits the
    top-PMI_K."""
    pairs = _part_pairs(spark, sf_dir).filter(F.col("support") >= PMI_MIN_SUP)
    li = load(spark, sf_dir, "lineitem")
    pl = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ic = pl.groupBy("p").agg(F.count("*").alias("c"))
    pmi = F.expr(
        "CAST(floor(ln(support * n_orders * 1.0 / (ca_c * cb_c)) * 1000000 + 0.5) AS BIGINT)"
    )
    return (
        pairs.join(F.broadcast(ic.select(F.col("p").alias("pa"), F.col("c").alias("ca_c"))), "pa")
        .join(F.broadcast(ic.select(F.col("p").alias("pb"), F.col("c").alias("cb_c"))), "pb")
        .crossJoin(F.broadcast(n))
        .select("pa", "pb", "support", pmi.alias("pmi_mu"))
        .orderBy(F.desc("pmi_mu"), F.asc("pa"), F.asc("pb"))
        .limit(PMI_K)
    )


JACCARD_K = 25


@query(
    "q_graph_jaccard",
    oracle=f"""
WITH {_PAIRS_CTE},
deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d FROM pl GROUP BY p
)
SELECT pa, pb, support,
       CAST(support * 10000 // (da.d + db.d - support) AS BIGINT) AS jac_bp
FROM pairs
JOIN deg da ON da.p = pa
JOIN deg db ON db.p = pb
ORDER BY jac_bp DESC, support DESC, pa, pb
LIMIT {JACCARD_K}
""",
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-neighborhood Jaccard similarity on the part-co-order
    bipartite graph: for each co-occurring part pair, |orders(a) ∩
    orders(b)| / |orders(a) ∪ orders(b)| — the link-prediction /
    "customers who bought a also bought b, RELIABLY" score that raw
    co-purchase support overstates for popular parts. Top-{JACCARD_K}
    pairs by similarity.

    The intersection is exactly the pair support (an order containing
    both parts IS a common neighbor), so the pairwise stage reuses
    _part_pairs verbatim — only pairs with support ≥ 1 ever exist,
    which is what keeps this sub-quadratic: candidate pairs are
    bounded by Σ_order C(lines, 2) (order size is bounded), never by
    |parts|². Degrees join in from a map-side-combinable per-part
    count; the similarity is one integer floor-division in basis
    points (inclusion-exclusion clears the union), and the top-k is a
    TakeOrderedAndProject over the deterministic (jac_bp, support,
    pa, pb) key.

    Shape at 100 TB: one distinct + self-join keyed on order id
    (bounded fan-out), one degree aggregate, two dim-sized joins —
    the degree table is parts-sized, broadcastable at TPC-H ratios."""
    pairs = _part_pairs(spark, sf_dir)
    pl = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = pl.groupBy("p").agg(F.count("*").cast("long").alias("d"))
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            "pa",
            "pb",
            "support",
            F.expr("CAST(support * 10000 DIV (da + db - support) AS BIGINT)").alias(
                "jac_bp"
            ),
        )
        .orderBy(F.desc("jac_bp"), F.desc("support"), F.asc("pa"), F.asc("pb"))
        .limit(JACCARD_K)
    )


# ---------------------------------------------------------------------------
# BFS levels from a deterministic seed (fixed-round frontier expansion)
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 3


def _bfs_oracle() -> str:
    """Chained-CTE mirror of the fixed-round Spark loop (q_graph_pagerank's
    oracle pattern): r_k holds min-level-so-far for every node reached
    within k hops."""
    ctes = [
        TRADE_EDGES_CTES,
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "r0 AS (SELECT min(node) AS node, CAST(0 AS BIGINT) AS lvl FROM nodes)",
    ]
    for k in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT node, CAST(min(lvl) AS BIGINT) AS lvl FROM (
    SELECT node, lvl FROM r{k - 1}
    UNION ALL
    SELECT e.dst AS node, r.lvl + 1 AS lvl
    FROM edges e JOIN r{k - 1} r ON e.src = r.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT lvl, CAST(count(*) AS BIGINT) AS n_nodes
FROM r{_BFS_ROUNDS} GROUP BY lvl
UNION ALL
SELECT CAST(-1 AS BIGINT) AS lvl, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT node FROM nodes EXCEPT SELECT node FROM r{_BFS_ROUNDS})
ORDER BY lvl
"""
    )


@query("q_bfs_levels", oracle=_bfs_oracle())
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first-search level histogram from a deterministic seed
    (the minimum node id) over the customer↔supplier bipartite graph,
    bounded at 3 hops — the reachability profile ("how much of the
    graph is within k hops of this account") behind blast-radius and
    influence analyses; lvl −1 counts what 3 hops can't reach.

    Iteration is FIXED-ROUND and fully declarative, like
    q_graph_pagerank: each round unions the carried (node, min-level)
    relation with the frontier expansion edges⋈levels and re-minimizes
    — no driver loop state beyond the constant round count, so the
    oracle mirrors it as chained CTEs. min-level is monotone, so
    re-expanding already-settled nodes is idempotent (no visited-set
    bookkeeping to diverge on).

    Engine stability: node ids, levels, and counts are all integers.

    Shape per round: one edges⋈levels hash join (edge relation keyed
    by src) + a map-side-combinable min per node — the level relation
    that shuffles is NODE-sized; edges stream through the join. At
    100 TB the k-hop frontier form is exactly how distributed BFS is
    run; unbounded-diameter BFS would move to the q_dedup_components
    convergence loop."""
    edges = trade_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    r = nodes.agg(F.min("node").alias("node")).select(
        "node", F.lit(0).cast("long").alias("lvl")
    )
    for _ in range(_BFS_ROUNDS):
        frontier = edges.join(r, edges.src == r.node).select(
            F.col("dst").alias("node"), (F.col("lvl") + 1).alias("lvl")
        )
        # the union and the next round's join both read the round
        r = park(
            r.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("lvl").cast("long").alias("lvl")),
            spark,
            sf_dir,
        )
    reached = r.groupBy("lvl").agg(F.count("*").cast("long").alias("n_nodes"))
    unreached = (
        nodes.join(r, "node", "left_anti")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(F.lit(-1).cast("long").alias("lvl"), "n_nodes")
    )
    return reached.unionByName(unreached).orderBy("lvl")


# ---------------------------------------------------------------------------
# Degree assortativity (do hubs trade with hubs?)
# ---------------------------------------------------------------------------

# Mirrored Pearson r over the per-edge degree moments (q_corr_matrix
# shape: exact BIGINT sums, products in double, micro-rounded).
_ASSORT_MICRO = (
    "CAST(round(1000000 * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    "/ sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) "
    "* (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))) AS BIGINT)"
)


@query(
    "q_graph_assortativity",
    oracle=f"""
WITH {TRADE_EDGES_CTES},
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ds.d) AS BIGINT) AS sx, CAST(sum(dd.d) AS BIGINT) AS sy,
         CAST(sum(ds.d * ds.d) AS BIGINT) AS sxx,
         CAST(sum(dd.d * dd.d) AS BIGINT) AS syy,
         CAST(sum(ds.d * dd.d) AS BIGINT) AS sxy
  FROM edges e
  JOIN deg ds ON e.src = ds.node
  JOIN deg dd ON e.dst = dd.node
)
SELECT n AS n_directed_edges, {_ASSORT_MICRO} AS assort_micro
FROM m
WHERE CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
""",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer↔supplier graph: the
    Pearson correlation of endpoint degrees over all directed edges
    (symmetrized, so it equals the undirected coefficient) — negative
    = hubs attach to leaves (typical bipartite marketplaces), positive
    = rich-club wiring; the one-number structure summary read before
    trusting degree-based sampling or salting decisions.

    Engine stability: degrees and all six moments are exact BIGINTs
    (d² ≤ 1e8 per edge, Σ ≤ 1e15 at sf≈1); r is ONE mirrored double
    expression micro-rounded, with the degenerate case excluded by the
    same double-on-exact-integers predicates as q_spearman_corr.

    Shape: one distinct edge build, a node-keyed degree aggregate,
    two broadcast-able degree joins back onto edges (node-sized build
    sides), ONE map-side-combinable moment reduce. At 100 TB: the
    edges stream through two hash joins; nothing pairwise exists."""
    edges = trade_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    ds = deg.select(F.col("node").alias("src"), F.col("d").alias("dx"))
    dd = deg.select(F.col("node").alias("dst"), F.col("d").alias("dy"))
    m = (
        edges.join(ds, "src")
        .join(dd, "dst")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum("dy").cast("long").alias("sy"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        )
    )
    return m.filter(
        (F.expr("CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx") > 0)
        & (F.expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy") > 0)
    ).select(
        F.col("n").alias("n_directed_edges"),
        F.expr(_ASSORT_MICRO).alias("assort_micro"),
    )
