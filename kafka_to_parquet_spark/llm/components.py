"""Near-dup clustering: connected components over the SimHash-band
near-dup pair graph — the step that turns pairwise matches into dedup
groups (keep min doc_id per component, drop the rest).

Spark side: Pregel-style iterative min-label propagation with
POINTER JUMPING: each round first propagates labels one hop along
edges, then contracts label chains by looking up each node's label's
own label (component values are doc_ids, so the lookup is a self-join
of the label table). Propagation alone needs diameter-many rounds —
profiled at 9 rounds on the sf0.1 near-dup graph (313k directed
edges, chains of length ~8); the contraction step doubles the
propagation distance per round, giving O(log d) rounds (4 on the same
graph) for one extra small self-join each. Everything is fully
distributed (the driver only checks a scalar convergence sum) and
lineage is truncated per round by cache.park so plans don't
grow with iterations — the same shape GraphX/GraphFrames use, built
from plain DataFrame ops.

Oracle: DuckDB recursive CTE computing min reachable label — an
independent fixpoint formulation, so agreement is strong evidence the
iteration converges to the true components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo, park
from kafka_to_parquet_spark.llm.dedup import SIMHASH_PAIRS_CTE, q_dedup_simhash_pairs
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# Reuse the exact banded-LSH pair CTE from dedup.py (single source of
# truth for SIMHASH_* thresholds); just add the undirected edge view.
_PAIRS_CTE = f"""
{SIMHASH_PAIRS_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
)
"""


# Checkpointed undirected edge set per (session, sf_dir): building it
# executes the full SimHash banded pair join (~2.3 s at sf0.1), so
# repeated invocations in one session (bench sweeps, components +
# downstream dedup queries) must not re-run it.
def near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        pairs = q_dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
        # (A doc_a-repartition before the checkpoint was tried in
        # round 15 and REMOVED: under AQE the LogicalRDD that
        # localCheckpoint plans does not advertise the repartition's
        # hashpartitioning — the runtime plan re-exchanged edges
        # anyway, so the build-time exchange bought nothing. The
        # per-round edge exchange is instead eliminated by the
        # shrinking frontier below: AQE broadcasts the frontier side,
        # measured at sf0.1 — see plans/r15/q_dedup_components_*.)
        return pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).localCheckpoint()

    return memo(spark, sf_dir, "near_dup_edges", build)


@query(
    "q_dedup_components",
    oracle=f"""
WITH RECURSIVE
{_PAIRS_CTE},
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
)
SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS component FROM reach GROUP BY n
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the near-dup graph: every document
    labeled with the min doc_id of its component (singletons label
    themselves). Min-label propagation + pointer jumping; see module
    docstring for the scale analysis."""
    return component_labels(spark, sf_dir)


# Converged labels per (session, sf_dir): the iteration is the
# expensive part, and both q_dedup_components and q_dedup_keep need it
# in one driver/bench sweep. The cached frame is a localCheckpoint —
# already materialized and lineage-free.
# result=True: the converged labels ARE q_dedup_components' answer,
# so timing tools evict this entry between samples (cache.py's
# clear_result_caches) — a warm hit would time a dict lookup.
def component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark, sf_dir, "component_labels", lambda: _labels(spark, sf_dir), result=True
    )


def _labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = near_dup_edges(spark, sf_dir)
    # Iterate ONLY over edge-incident nodes: a document with no
    # near-dup edge is a fixed point of min-label propagation (its
    # label can never change), so carrying it through every round just
    # inflates each per-round join/aggregate and the convergence scan.
    # Singletons are unioned back with component = doc_id after
    # convergence. On real near-dup graphs the edge-incident set is a
    # small fraction of the corpus (most documents are unique), so the
    # iterating frame shrinks by ~the dedup rate — at 100 TB this is
    # the difference between iterating over the whole corpus and over
    # just the duplicate neighborhoods. (Round-5 change per the r4
    # verdict.)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # edges is undirected (both orientations present), so doc_a alone
    # covers every incident node.
    labels = park(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id")),
        spark,
        sf_dir,
    )
    # Shrinking frontier (round 15, guide §2.4 — the r14 verdict's
    # q_dedup_components item): only nodes whose label CHANGED last
    # round need to send messages. A neighbor u outside the frontier
    # already delivered its (unchanged) label in the round it last
    # changed, and labels only decrease, so
    # min(self, min over frontier neighbors) equals
    # min(self, min over ALL neighbors) — per-round label values are
    # IDENTICAL to the old all-edges form, round for round. Real
    # near-dup graphs converge most nodes in round 1-2, so rounds 3+
    # join a near-empty frontier against the edge table (AQE
    # broadcasts it) instead of re-scanning every edge; combined with
    # the doc_a-partitioned edge checkpoint the edge relation is never
    # exchanged after its build.
    frontier = labels
    converged = False
    max_rounds = 64
    for _ in range(max_rounds):
        # 1-hop propagation from the frontier only.
        msgs = edges.join(
            frontier.select("doc_id", "component"),
            edges.doc_a == F.col("doc_id"),
        ).select(F.col("doc_b").alias("doc_id"), "component")
        magg = msgs.groupBy("doc_id").agg(F.min("component").alias("cand"))
        stepped = labels.join(magg, "doc_id", "left").select(
            "doc_id",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"), F.coalesce("cand", "component")
            ).alias("mid"),
        )
        # Pointer jump (unchanged from the pre-r15 form, applied to
        # EVERY node): component values are doc_ids, so a label chain
        # contracts by looking the stepped value up in the PREVIOUS
        # round's labels — joining against the current round would
        # recompute the propagation subtree (no cross-operator CSE in
        # Catalyst), and prev labels give the same fixpoint: labels
        # only decrease, and at the fixpoint labels[m] = m so the jump
        # is the identity there.
        jump = labels.select(
            F.col("doc_id").alias("mid"), F.col("component").alias("_c2")
        )
        # Parked round: the frontier count right below is the
        # materializing action, so each round schedules ONE Spark job.
        # The chg flag marks this round's frontier; its count doubles
        # as the convergence test (0 changes == the old unchanged-sum
        # criterion — labels are monotone).
        labels = park(
            stepped.join(jump, "mid", "left").select(
                "doc_id",
                F.coalesce("_c2", "mid").alias("component"),
                (F.coalesce("_c2", "mid") != F.col("prev")).alias("chg"),
            ),
            spark,
            sf_dir,
        )
        frontier = labels.filter("chg")
        if frontier.count() == 0:
            converged = True
            break
    if not converged:
        # Never return partially-propagated labels silently: a diameter
        # > max_rounds graph (ultra-long near-dup chains) must fail
        # loudly, not ship wrong dedup groups.
        raise RuntimeError(
            f"connected-components did not converge within {max_rounds} rounds; "
            "graph diameter exceeds the bound — raise max_rounds or switch to "
            "large-star/small-star contraction"
        )
    # Union the singletons back (anti-join against the edge-incident
    # set): they label themselves. One extra join, once, vs carrying
    # them through every round.
    singletons = docs.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return (
        labels.select("doc_id", "component").unionByName(singletons).localCheckpoint()
    )


@query(
    "q_dedup_keep",
    oracle=f"""
WITH RECURSIVE
{_PAIRS_CTE},
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
),
comp AS (
  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS group_size
  FROM comp GROUP BY component
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, s.group_size
FROM documents d
JOIN comp c ON d.doc_id = c.doc_id AND c.component = d.doc_id
JOIN sizes s ON s.component = c.component
""",
)
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus — what a training-data pipeline actually
    runs dedup FOR: keep one canonical representative (the min doc_id)
    per near-dup component, with the size of the group it represents.
    Composition over ``component_labels``: a filter (doc_id ==
    component — the representative), one count-agg keyed by component
    for group sizes, and a join back to the documents table. All three
    are narrow-key shuffles on already-labeled rows; the iterative part
    is shared (memoized) with q_dedup_components, so the marginal cost
    of producing the kept corpus is one agg + two joins regardless of
    corpus size."""
    labels = component_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    kept = labels.filter(F.col("doc_id") == F.col("component"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return (
        kept.join(sizes, "component")
        .join(docs, "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "group_size")
    )


@query(
    "q_dup_cluster_stats",
    oracle=f"""
WITH RECURSIVE
{_PAIRS_CTE},
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
),
comp AS (
  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
),
sizes AS (
  SELECT component, count(*) AS group_size FROM comp GROUP BY component
)
SELECT CAST(group_size AS BIGINT)  AS group_size,
       CAST(count(*) AS BIGINT)    AS n_clusters,
       CAST(group_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY group_size
""",
)
def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster size histogram — the corpus-health report a dedup
    run ships: for each component size, how many clusters have that
    size and how many documents they hold (singletons included, so the
    n_docs column sums to the corpus size — an auditable invariant).
    The shape of this histogram decides dedup policy: a fat tail of
    large clusters means boilerplate/mirror content and argues for
    keep-one; a mass of size-2 clusters is usually true re-posts.

    Composition over the memoized ``component_labels``: two hash
    aggregates (component → size, size → cluster count), each
    map-side-combinable; output is ≤ max-cluster-size rows. Marginal
    cost on top of q_dedup_components is two narrow shuffles."""
    labels = component_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("group_size").cast("long").alias("group_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("group_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


@query(
    "q_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE
{_PAIRS_CTE},
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
),
comp AS (
  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
),
scored AS (
  SELECT c.component, d.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
best AS (
  SELECT component, doc_id, n_chars
  FROM (SELECT *, row_number() OVER (PARTITION BY component
                                     ORDER BY n_chars DESC, doc_id) AS rn
        FROM scored)
  WHERE rn = 1
),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS group_size
  FROM comp GROUP BY component
)
SELECT b.doc_id, CAST(b.component AS BIGINT) AS component,
       d.lang, d.source, d.n_chars, s.group_size
FROM best b
JOIN sizes s USING (component)
JOIN documents d ON d.doc_id = b.doc_id
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-aware form of q_dedup_keep: per near-dup component
    keep the LONGEST member (max n_chars, min doc_id tiebreak) instead
    of the min-id one — the production policy, since the longest copy
    of a mirrored/quoted page is usually the most complete and
    truncated copies are the ones to drop (same reasoning as CCNet's
    keep-longest and the near-dedup stage of most pretraining
    pipelines; any integer quality score drops into the same struct).

    Plan: composition over the memoized ``component_labels`` — one
    join of labels to the (doc_id, n_chars) projection, then the
    argmax per component as a map-side-combinable
    min(struct(-n_chars, doc_id)) aggregate (each task pre-reduces its
    members to one row before the component-keyed exchange; a
    row_number window would shuffle every member to sort it), one
    count-agg for group sizes reusing the same exchange key, and one
    join back for the kept rows' metadata. Marginal cost over the
    shared labels: two narrow component-keyed shuffles + one id join,
    independent of how the labels were produced."""
    labels = component_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    scored = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    per_comp = scored.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("doc_id")
            )
        ).alias("m"),
    )
    return (
        per_comp.select(
            F.col("m.doc_id").alias("doc_id"),
            F.col("component").cast("long").alias("component"),
            "group_size",
        )
        .join(docs, "doc_id")
        .select("doc_id", "component", "lang", "source", "n_chars", "group_size")
    )
