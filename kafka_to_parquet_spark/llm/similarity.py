"""Similarity search over the ``embeddings`` table (X2).

Two operators:

- q_sim_topk — exact brute-force cosine top-k for a small broadcast
  query set: BroadcastNestedLoopJoin of |Q| query vectors against the
  corpus, O(|Q|·N) with no shuffle of the corpus; the per-query top-k
  comes from a window over (query, rounded cosine). This is the
  correctness baseline.
- q_sim_ivf — the scale path: IVF-style partitioning. Deterministic
  centroids (every 500th vector), every vector assigned to its
  nearest centroid, and queries probe only their own cell — the
  pairwise work drops from N² to Σ cell². Fully deterministic, so it
  is oracle-checkable end to end.

Both rank by cosine rounded to 6 dp with vec_id tiebreak so ordering
is stable across engines (raw double ties would be engine-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.functions.vectors import cosine_expr, dot_expr, duck_cosine, norm_expr
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 5
CENTROID_MOD = 500  # centroids: vec_id % 500 == 0


@query(
    "q_sim_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.q_id, e.vec_id AS c_id,
         round({duck_cosine('q.qe', 'e.embedding')}, 6) AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
      FROM pairs)
WHERE rn <= {TOP_K}
""",
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2a: brute-force cosine top-k, broadcast query set."""
    e = load(spark, sf_dir, "embeddings")
    # Norms hoisted: one fold per vector up front, one dot fold per
    # pair — dot/(qn·cn) is the identical IEEE expression to the
    # oracle's inline cosine, with the norm subterms precomputed.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_expr("embedding")).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.expr(norm_expr("embedding")).alias("cn"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(F.expr(dot_expr("qe", "ce")) / (F.col("qn") * F.col("cn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos", "rank")
    )


@query(
    "q_sim_ivf",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cente
  FROM embeddings WHERE vec_id % {CENTROID_MOD} = 0
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         round({duck_cosine('e.embedding', 'c.cente')}, 6) AS cs
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, embedding, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
        FROM scored)
  WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, embedding AS qe, cent_id AS qc
      FROM assign WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.q_id, a.vec_id AS c_id,
         round({duck_cosine('q.qe', 'a.embedding')}, 6) AS cos
  FROM q JOIN assign a ON a.cent_id = q.qc AND a.vec_id <> q.q_id
)
SELECT q_id, c_id, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
      FROM pairs)
WHERE rn <= {TOP_K}
""",
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: IVF-partitioned ANN. Assignment = nearest deterministic
    centroid (broadcast centroid set, no shuffle of the corpus);
    probe = equi-join on cell id — the N² cross join becomes a
    hash-partitioned cell-local search. Recall < 1 by construction
    (single-probe IVF); the oracle implements the identical algorithm
    so correctness is exact."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cente")
    )
    scored = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.round(F.expr(cosine_expr("embedding", "cente")), 6).alias("cs"),
        )
    )
    # Argmax-by-cosine as a map-side-combinable aggregate (not a
    # window): centroids are broadcast, so all k scored rows for one
    # vector sit in the same task and the partial min(struct) reduces
    # them to 1 before the exchange — the shuffle carries N rows, not
    # N·k. min over (−cs, cent_id) is max-cosine with min-id tiebreak,
    # identical to the oracle's ORDER BY cs DESC, cent_id.
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.min(
                F.struct((-F.col("cs")).alias("neg_cs"), F.col("cent_id").alias("cent_id"))
            ).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("m.cent_id").alias("cent_id"))
    )
    q = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), F.col("cent_id").alias("qc")
    )
    pairs = (
        F.broadcast(q)
        .join(assign, (assign.cent_id == F.col("qc")) & (assign.vec_id != F.col("q_id")))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(F.expr(cosine_expr("qe", "embedding")), 6).alias("cos"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos", "rank")
    )


@query(
    "q_ann_recall",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
bpairs AS (
  SELECT q.q_id, e.vec_id AS c_id,
         round({duck_cosine('q.qe', 'e.embedding')}, 6) AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.q_id
),
brute AS (
  SELECT q_id, c_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        FROM bpairs)
  WHERE rn <= {TOP_K}
),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cente
  FROM embeddings WHERE vec_id % {CENTROID_MOD} = 0
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         round({duck_cosine('e.embedding', 'c.cente')}, 6) AS cs
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, embedding, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
        FROM scored)
  WHERE rn = 1
),
iq AS (SELECT vec_id AS q_id, embedding AS qe, cent_id AS qc
       FROM assign WHERE vec_id < {N_QUERIES}),
ipairs AS (
  SELECT iq.q_id, a.vec_id AS c_id,
         round({duck_cosine('iq.qe', 'a.embedding')}, 6) AS cos
  FROM iq JOIN assign a ON a.cent_id = iq.qc AND a.vec_id <> iq.q_id
),
ivf AS (
  SELECT q_id, c_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        FROM ipairs)
  WHERE rn <= {TOP_K}
)
SELECT b.q_id,
       CAST(count(i.c_id) AS BIGINT) AS n_hit,
       CAST(count(i.c_id) * 10000 / {TOP_K} AS BIGINT) AS recall_bp
FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
GROUP BY b.q_id
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality governance: per-query recall@{TOP_K} of the IVF
    probe against the exact brute-force ground truth — the metric that
    decides how many cells to probe / how many centroids to use before
    anyone trusts the fast path. Expressed as a composition of the two
    declared operators (their plans are reused verbatim), joined on
    (query, candidate); recall is reported in integer basis points so
    the cross-engine comparison never touches a float ratio.

    Scale: the brute side is the one that doesn't scale (that's WHY
    IVF exists) — at 100 TB this query runs on a sampled query set
    (|Q| queries, O(|Q|·N) with the corpus scanned once, broadcast
    queries, no corpus shuffle), which is exactly how production ANN
    recall is audited: a small random probe set against exact search,
    not an all-pairs evaluation."""
    brute = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    ivf = q_sim_ivf(spark, sf_dir).select(
        F.col("q_id").alias("i_q"), F.col("c_id").alias("i_c")
    )
    return (
        brute.join(
            ivf,
            (F.col("q_id") == F.col("i_q")) & (F.col("c_id") == F.col("i_c")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("i_c").alias("n_hit"),
            (F.count("i_c") * 10000 / TOP_K).cast("long").alias("recall_bp"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN graph: top-k neighbors per vector (corpus × corpus, blocked)
# ---------------------------------------------------------------------------

KNN_K = 3


def _duck_knn_tail(
    src: str, block: str | tuple[str, ...], index_src: str | None = None
) -> str:
    """The blocked-pairs + rank tail shared by the k-NN oracles
    (q_knn_graph over ``assign``/(label, cent_id), q_knn_graph_ivf over
    ``assign``/``cent_id``, q_knn_multiprobe probing ``probes`` against
    the ``assign`` index side) — one definition so a tiebreak or
    rounding change can't diverge the twins. ``block`` may be a tuple
    for composite blocking (all keys must match); ``index_src`` is the
    b-side table (defaults to ``src`` for the symmetric twins)."""
    blocks = (block,) if isinstance(block, str) else block
    on = " AND ".join(f"a.{b} = b.{b}" for b in blocks)
    return f"""p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
  FROM {src} a JOIN {index_src or src} b
    ON {on} AND a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nbr_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
  FROM p
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id, cos
FROM r WHERE rnk <= {KNN_K}"""


def _blocked_knn(
    blocked: DataFrame,
    block: str | tuple[str, ...],
    index: DataFrame | None = None,
) -> DataFrame:
    """Spark twin of :func:`_duck_knn_tail`: every vector's KNN_K
    nearest in-block neighbors by 6-dp rounded cosine with nbr_id
    tiebreak (rank key == output column, so ulp-level float divergence
    between engines can't flip a rank). Pairwise work is Σ block² —
    the caller chooses the blocking (IVF cells whose size stays
    bounded as N grows, optionally composed with an attribute filter
    key for filtered ANN); norms are hoisted per vector and the rank
    window partitions on vec_id, already co-located with the pair
    generation's block key. ``index`` is the neighbor (b) side —
    defaults to the probing side itself; multi-probe passes the
    single-home assignment so each pair matches in at most one cell
    (a vector is INDEXED once, PROBES many — no DISTINCT needed)."""
    blocks = (block,) if isinstance(block, str) else block
    en = blocked.select(
        "vec_id", *blocks, "embedding", F.expr(norm_expr("embedding")).alias("nrm")
    )
    en_b = (
        en
        if index is None
        else index.select(
            "vec_id",
            *blocks,
            "embedding",
            F.expr(norm_expr("embedding")).alias("nrm"),
        )
    )
    a, b = en.alias("a"), en_b.alias("b")
    cos = F.expr(dot_expr("a.embedding", "b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    cond = F.col("a.vec_id") != F.col("b.vec_id")
    for blk in blocks:
        cond = cond & (F.col(f"a.{blk}") == F.col(f"b.{blk}"))
    pairs = a.join(b, cond).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nbr_id"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("vec_id", F.col("rnk").cast("long").alias("rnk"), "nbr_id", "cos")
    )


# q_knn_graph blocks on (label, ivf_cell): the label is the SEMANTIC
# constraint (filtered ANN — "nearest neighbors with the same
# language/source"), the IVF cell is the blocking approximation that
# makes the pairwise stage linear. Through round 5 the query blocked
# on the label ALONE: with a fixed label count, block size grew ∝ N
# and the pairwise stage was Σ block² = N²/#labels — measured
# SCALING.md exponent 1.15, a quadratic wall at 100 TB. Sub-bucketing
# each label by the vector's IVF home cell bounds the block at
# ~cell size while keeping the label semantics; the cost is the usual
# single-probe IVF recall trade (a same-label true neighbor in an
# adjacent cell is missed), exactly the q_knn_graph_ivf ->
# q_knn_multiprobe recall knob.

KNN_IVF_MOD = 100


def _knn_graph_oracle() -> str:
    from kafka_to_parquet_spark.llm.clustering import duck_ivf_assign_cte

    return f"""
WITH {duck_ivf_assign_cte(KNN_IVF_MOD, keep=('label',))},
{_duck_knn_tail('assign', ('label', 'cent_id'))}
"""


@query("q_knn_graph", oracle=_knn_graph_oracle())
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: label-filtered k-NN graph build — every vector's {KNN_K}
    nearest SAME-LABEL neighbors within its IVF home cell, by cosine.
    This is the corpus×corpus form of similarity search (q_sim_topk is
    query×corpus) with an attribute filter — the k-NN graph feeds
    graph-based dedup, diversity sampling, and ANN index construction,
    and the label constraint is the filtered-ANN pattern (same-language
    / same-source neighbors only).

    Ordering determinism across engines: neighbors are ranked on the
    6-dp ROUNDED cosine with nbr_id as the tiebreak, so an ulp-level
    float divergence between engines cannot flip a rank — the ordering
    key equals the output column.

    100 TB shape: the blocking key is (label, ivf_cell) — cell count
    grows ∝ N so block size stays bounded (≤ cell ≈ {KNN_IVF_MOD}) and
    the pairwise stage is N·cell = linear, never Σ label² = N²/#labels
    (the round-5 form this replaces; see the comment above). The label
    rides through the shared assignment stage as index metadata
    (ivf_assign's ``keep`` passthrough — how production filtered-ANN
    indexes store filter attributes), so recovering it costs no join.
    The per-vector top-k is a rank-window inside the block partition,
    co-located with the pair generation's shuffle key. Single-probe
    recall semantics, mirrored term-for-term by the oracle; the
    multi-probe recall knob is q_knn_multiprobe."""
    return _blocked_knn(ivf_home(spark, sf_dir), ("label", "cent_id"))


# The unfiltered twin: same top-k-neighbors semantics, blocked on the
# IVF cell alone — the cell count grows with the corpus (every
# KNN_IVF_MOD-th vector seeds a cell) so cell size, and with it the
# per-vector pairwise work, stays bounded as N grows. This is the
# plain (no attribute filter) 100 TB ANN-graph build.

# Persisted IVF home assignment — the on-disk index layout a
# production ANN corpus stores once and every search reads. Five
# consumers share it in one session (q_knn_graph, q_knn_graph_ivf,
# plus q_knn_multiprobe's second-probe source, probes union, and
# index side — Catalyst has no cross-operator CSE, so without the
# persist the broadcast-crossJoin+argmin subtree executes once per
# consumer). Carries the label column as per-vector filter metadata
# (ivf_assign's keep passthrough) for the filtered-ANN consumer.
# Feature-level by the bench honesty rule: the index is a shared
# input, not a query's answer.
def ivf_home(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_to_parquet_spark.llm.clustering import ivf_assign

    return memo(
        spark,
        sf_dir,
        "ivf_home",
        lambda: ivf_assign(
            load(spark, sf_dir, "embeddings"), KNN_IVF_MOD, keep=("label",)
        ).persist(),
    )


def _knn_ivf_oracle() -> str:
    from kafka_to_parquet_spark.llm.clustering import duck_ivf_assign_cte

    return f"""
WITH {duck_ivf_assign_cte(KNN_IVF_MOD)},
{_duck_knn_tail('assign', 'cent_id')}
"""


@query("q_knn_graph_ivf", oracle=_knn_ivf_oracle())
def q_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c': k-NN graph inside IVF cells — q_knn_graph with a blocking
    scheme that SCALES: cells are seeded every {KNN_IVF_MOD}-th vector
    (cell count ∝ N, so cell size stays ~{KNN_IVF_MOD} at any corpus
    size), each vector joins its nearest cell (the q_kmeans_step
    broadcast argmin — map-side-combinable min(struct), shuffle
    carries N pre-reduced rows), and top-{KNN_K} neighbors are ranked
    within the cell on the 6-dp rounded cosine with id tiebreak.

    Why the twin exists: q_knn_graph blocks on the FIXED label column
    — with block count constant, block size grows ∝ N and the pairwise
    stage is Σ block² = N²/#labels (its SCALING.md exponent shows it).
    Here pairwise cost is N·cell ≈ N·{KNN_IVF_MOD} — linear — at the
    price of missing true neighbors that fall in an adjacent cell
    (production adds multi-probe: rank against the nProbe nearest
    cells; same plan shape, nProbe× the candidate rows). Both twins
    are exact within their declared blocking, and both oracles mirror
    the blocking term-for-term — through the same two shared builders
    (clustering.ivf_assign / _blocked_knn and their DuckDB twins) the
    Lloyd and label-blocked queries use, so the four copies of the
    assign/rank logic this pair originally carried can't drift. The
    assignment itself comes from the persisted ivf_home index table,
    shared with q_knn_multiprobe."""
    return _blocked_knn(ivf_home(spark, sf_dir), "cent_id")


# Multi-probe: the recall knob on the IVF twin. A vector is INDEXED in
# exactly one cell (its home assignment — the on-disk IVF layout), but
# each vector PROBES its KNN_PROBES nearest cells when searching, so a
# true neighbor sitting just across a cell boundary is found as long
# as the neighbor's home cell is among the prober's nProbe closest.
# Candidate volume grows only linearly in nProbe (nProbe · cell rows
# per prober), never quadratically.

KNN_PROBES = 2


def _knn_multiprobe_oracle() -> str:
    from kafka_to_parquet_spark.llm.clustering import duck_ivf_assign_cte

    return f"""
WITH {duck_ivf_assign_cte(KNN_IVF_MOD)},
probes AS (
  SELECT vec_id, embedding, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
        FROM scored)
  WHERE rn <= {KNN_PROBES}
),
{_duck_knn_tail('probes', 'cent_id', index_src='assign')}
"""


@query("q_knn_multiprobe", oracle=_knn_multiprobe_oracle())
def q_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c'': multi-probe IVF k-NN — the production form the
    q_knn_graph_ivf docstring promises: same linear N·cell pairwise
    cost and the same shared assign/rank builders, but each vector
    probes its {KNN_PROBES} nearest cells instead of one, recovering
    the true neighbors that single-probe loses across cell boundaries
    (faiss's nprobe knob; Lv et al.'s multi-probe LSH is the same idea
    one index family over). Asymmetric by construction: the b-side is
    the single-home ASSIGNMENT (each vector indexed once, as the
    on-disk IVF list layout stores it), the a-side visits nProbe
    cells — so a pair can match in at most one cell and no dedup
    stage is needed.

    Plan: probe cells are found WITHOUT ever shuffling the N·k scored
    table — the home cell is ivf_assign's map-side-combinable
    min(struct) (shuffle of N pre-reduced rows), and the second probe
    starts FROM the home table (which already carries each vector's
    embedding): broadcast the seeds into it, drop the home cell's row,
    argmin again — another map-side-combinable pass shuffling N rows.
    The N·k distance computations happen twice but purely map-side;
    a row_number window over ``scored`` (or joining home back onto
    the N·k scored table) would move all N·k rows through an exchange
    to rank them. The oracle's ``rn <= {KNN_PROBES}`` window is the
    same set by the (d2, cent_id) tiebreak's determinism. The home
    table is the persisted ivf_home index (three consumers below —
    second-probe source, probes union, index side — and Catalyst has
    no cross-operator CSE, so without the persist the assign subtree
    would execute once per consumer)."""
    from kafka_to_parquet_spark.functions.vectors import sqdist_expr
    from kafka_to_parquet_spark.llm.clustering import ivf_seeds

    e = load(spark, sf_dir, "embeddings")
    home = ivf_home(spark, sf_dir)
    second = (
        home.select("vec_id", "embedding", F.col("cent_id").alias("home_c"))
        .crossJoin(F.broadcast(ivf_seeds(e, KNN_IVF_MOD)))
        .filter(F.col("cent_id") != F.col("home_c"))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.round(F.expr(sqdist_expr("embedding", "cente")), 6).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cent_id")).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("m.cent_id").alias("cent_id"))
    )
    # home carries the label metadata column (filtered-ANN consumer);
    # this unfiltered query projects it away before the probes union.
    home_cols = home.select("vec_id", "embedding", "cent_id")
    probes = home_cols.unionByName(second)
    return _blocked_knn(probes, "cent_id", index=home_cols)


@query(
    "q_hard_negatives",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
           FROM embeddings WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.q_id, e.vec_id AS c_id, e.label AS c_label,
         round({duck_cosine('q.qe', 'e.embedding')}, 6) AS cos
  FROM q CROSS JOIN embeddings e
  WHERE e.label <> q.ql
)
SELECT q_id, c_id, c_label, cos, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
      FROM pairs)
WHERE rn <= {TOP_K}
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the top-{k} most-similar vectors with a DIFFERENT label —
    the examples that sit closest to the decision boundary and carry
    the training signal (random negatives are trivially separable;
    hard negatives are what make embedding models sharp). The exact
    complement of q_sim_topk's same-corpus retrieval: identical
    broadcast-query shape, label-mismatch predicate instead of
    self-exclusion.

    Shape: |Q| query vectors broadcast against the corpus — O(|Q|·N)
    with NO shuffle of the corpus side; the label predicate filters
    BEFORE the per-query window, and the window state is top-k only.
    At production scale the corpus leg swaps to the IVF cells
    (q_knn_graph_ivf's machinery) unchanged; the brute-force form here
    is the recall-1.0 baseline the audit queries grade against.
    Cosine rounded to 6 dp with vec_id tiebreak (module discipline) so
    ranking is engine-stable."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
        F.expr(norm_expr("embedding")).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("c_label"),
        F.expr(norm_expr("embedding")).alias("cn"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("c_label") != F.col("ql"))
        .select(
            "q_id",
            "c_id",
            "c_label",
            F.round(
                F.expr(dot_expr("qe", "ce")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "c_label", "cos", "rank")
    )


OUTLIER_K = 3

_ASSIGN_CTE = f"""cent AS (
  SELECT vec_id AS cent_id, embedding AS cente
  FROM embeddings WHERE vec_id % {CENTROID_MOD} = 0
),
scored AS (
  SELECT e.vec_id, c.cent_id,
         round({duck_cosine('e.embedding', 'c.cente')}, 6) AS cs
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cent_id, cs
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
        FROM scored)
  WHERE rn = 1
)"""


@query(
    "q_embed_outliers",
    oracle=f"""
WITH {_ASSIGN_CTE}
SELECT cent_id, vec_id, cs, CAST(rk AS INTEGER) AS rank
FROM (SELECT cent_id, vec_id, cs,
             row_number() OVER (PARTITION BY cent_id ORDER BY cs ASC, vec_id) AS rk
      FROM assign)
WHERE rk <= {OUTLIER_K}
""",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: per IVF cell, the {k} vectors
    FARTHEST from their own centroid (lowest cosine) — the noise /
    mislabeled-sample review queue of embedding-based curation
    (SemDeDup prunes the densest neighborhoods; this surfaces the
    sparsest). Threshold-free by design: a ranked queue per cell
    instead of a tuned cutoff, which is how review pipelines actually
    consume it.

    Shape: the centroid assignment is the same broadcast-centroid
    argmin as q_sim_ivf (deterministic centroids, N·k linear, cells
    bounded as N grows); the per-cell bottom-k is one window over the
    assignment with top-k state only. Cosine rounded to 6 dp with
    vec_id tiebreak — the module's engine-stability rule.

    Note the deliberate contrast with q_dedup_embedding (too-CLOSE
    pairs) — the two queries share machinery and bracket the
    embedding-quality spectrum from both ends."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cente"),
        F.expr(norm_expr("embedding")).alias("cn"),
    )
    scored = (
        e.select(
            "vec_id", "embedding", F.expr(norm_expr("embedding")).alias("en")
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cent_id",
            F.round(
                F.expr(dot_expr("embedding", "cente")) / (F.col("en") * F.col("cn")),
                6,
            ).alias("cs"),
        )
    )
    wassign = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    assign = (
        scored.withColumn("rn", F.row_number().over(wassign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "cs")
    )
    wout = Window.partitionBy("cent_id").orderBy(F.asc("cs"), F.asc("vec_id"))
    return (
        assign.withColumn("rank", F.row_number().over(wout))
        .filter(F.col("rank") <= OUTLIER_K)
        .select("cent_id", "vec_id", "cs", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) encoding — the memory side of ANN indexing
# ---------------------------------------------------------------------------

PQ_M = 4  # subquantizers: 64-dim vector → 4 × 16-dim subspaces
PQ_SUBDIM = 16
PQ_SEED_MOD = 50  # codebook: sub-vectors of every 50th vector ...
PQ_K = 8  # ... capped at 8 entries (a codebook is a FIXED model artifact)


def _pq_cte() -> str:
    """DuckDB cent/scored/agg CTE fragment shared by q_embed_pq and
    q_pq_adc_recall — one definition so the code assignment can't
    drift between the encoder and its recall audit."""
    from kafka_to_parquet_spark.functions.vectors import duck_sqdist

    dist_cols, mins = [], []
    for s in range(PQ_M):
        a, b = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        dist_cols.append(
            f"round({duck_sqdist(f'e.embedding[{a}:{b}]', f'c.cente[{a}:{b}]')}, 6)"
            f" AS d{s}"
        )
        mins.append(f"min({{'d': d{s}, 'c': cent_id}}) AS m{s}")
    return f"""cent AS (
  SELECT vec_id AS cent_id, embedding AS cente FROM embeddings
  WHERE vec_id % {PQ_SEED_MOD} = 0 AND vec_id < {PQ_SEED_MOD * PQ_K}
),
scored AS (
  SELECT e.vec_id, c.cent_id, {", ".join(dist_cols)}
  FROM embeddings e CROSS JOIN cent c
),
agg AS (SELECT vec_id, {", ".join(mins)} FROM scored GROUP BY vec_id)"""


def _pq_oracle() -> str:
    codes = [f"CAST(m{s}.c AS BIGINT) AS code{s}" for s in range(PQ_M)]
    errs = [f"CAST(floor(m{s}.d * 1000000.0 + 0.5) AS BIGINT)" for s in range(PQ_M)]
    return f"""
WITH {_pq_cte()}
SELECT vec_id, {", ".join(codes)}, CAST({" + ".join(errs)} AS BIGINT) AS err_mu
FROM agg
ORDER BY vec_id
"""


@query("q_embed_pq", oracle=_pq_oracle())
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., PAMI 2011 — the
    compression layer of every large ANN index): each 64-dim vector is
    split into {PQ_M} 16-dim sub-vectors, each assigned to its nearest
    entry of a per-subspace codebook, and stored as {PQ_M} small codes
    — 64 floats → 4 bytes, the trick that lets a 100 TB embedding
    corpus keep its index in RAM. Codebook entries are the sub-vectors
    of a fixed {PQ_K}-seed sample (deterministic stand-in for the
    k-means-trained codebook; the assignment machinery is identical),
    k FIXED per the q_kmeans_step lesson — codebook size is a model
    hyperparameter, never ∝ N. Output: per vector, the {PQ_M} codes
    plus the total quantization error in micro units — the
    reconstruction-quality number a recall-vs-memory tradeoff is
    tuned against.

    Engine stability: each sub-distance is the shared rounded-6dp
    sqdist fold; argmins break ties by (d2, cent_id) via min(struct)
    vs DuckDB's lexicographic min over {{'d', 'c'}} structs; per-
    subspace errors are floor-rounded to integer micros BEFORE the
    cross-subspace sum.

    Shape: ONE broadcast cross join scores all {PQ_M} subspaces per
    (vector, seed) row — {PQ_M} map-side-combinable min(struct)
    aggregates reduce k·N scored rows to N code rows before the only
    shuffle, the same pre-reduced-exchange discipline as ivf_assign.
    At 100 TB: one pass, one shuffle of N skinny code rows."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.filter(
        (F.col("vec_id") % PQ_SEED_MOD == 0)
        & (F.col("vec_id") < PQ_SEED_MOD * PQ_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cente"))
    from kafka_to_parquet_spark.functions.vectors import sqdist_expr

    dists = [
        F.round(
            F.expr(
                sqdist_expr(
                    f"slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                    f"slice(cente, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                )
            ),
            6,
        ).alias(f"d{s}")
        for s in range(PQ_M)
    ]
    scored = e.crossJoin(F.broadcast(cent)).select("vec_id", "cent_id", *dists)
    agg = scored.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cent_id").alias("c")))
            .alias(f"m{s}")
            for s in range(PQ_M)
        ]
    )
    err = " + ".join(
        f"CAST(floor(m{s}.d * 1000000.0 + 0.5) AS BIGINT)" for s in range(PQ_M)
    )
    return agg.select(
        "vec_id",
        *[F.expr(f"CAST(m{s}.c AS BIGINT)").alias(f"code{s}") for s in range(PQ_M)],
        F.expr(f"CAST({err} AS BIGINT)").alias("err_mu"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# PQ asymmetric-distance recall audit (grades the compressed index)
# ---------------------------------------------------------------------------


def _pq_adc_oracle() -> str:
    from kafka_to_parquet_spark.functions.vectors import duck_sqdist

    code_rows = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, CAST(m{s}.c AS BIGINT) AS code FROM agg"
        for s in range(PQ_M)
    )
    lut_rows = []
    for s in range(PQ_M):
        a, b = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        lut_rows.append(
            f"SELECT q_id, {s} AS s, cent_id, "
            f"round({duck_sqdist(f'qe[{a}:{b}]', f'cente[{a}:{b}]')}, 6) AS d "
            "FROM q CROSS JOIN cent"
        )
    return f"""
WITH {_pq_cte()},
codes AS ({code_rows}),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
lut AS ({" UNION ALL ".join(lut_rows)}),
adc AS (
  SELECT l.q_id, c.vec_id,
         CAST(sum(CAST(floor(l.d * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adc_mu
  FROM codes c JOIN lut l ON l.s = c.s AND l.cent_id = c.code
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
),
ta AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc_mu, vec_id) AS rn
    FROM adc) WHERE rn <= {TOP_K}
),
ex AS (
  SELECT q.q_id, e.vec_id,
         round({duck_sqdist('q.qe', 'e.embedding')}, 6) AS d2
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id
),
te AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
    FROM ex) WHERE rn <= {TOP_K}
)
SELECT te.q_id,
       CAST(sum(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // {TOP_K} AS BIGINT) AS recall_bp
FROM te LEFT JOIN ta ON ta.q_id = te.q_id AND ta.vec_id = te.vec_id
GROUP BY te.q_id
ORDER BY te.q_id
"""


@query("q_pq_adc_recall", oracle=_pq_adc_oracle())
def q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of PQ asymmetric-distance search against the
    exact L2 ground truth — the audit that closes the loop on
    q_embed_pq, the same discipline as q_ann_recall (IVF), q_lsh_recall
    (banding) and q_cms_error_bands (sketch): a compressed index is
    only deployable once the recall it costs is a measured number. ADC
    (Jégou et al.) scores each database vector WITHOUT decompressing
    it: per subspace, the query precomputes its distance to each of
    the {PQ_K} codebook entries ({PQ_M}·{PQ_K}·|Q| lookup rows), and a
    vector's score is the sum of the {PQ_M} table lookups selected by
    its stored codes.

    Engine stability: the code assignment is literally the shared
    _pq_cte/_pq_codes stage; LUT entries are the shared rounded-6dp
    sqdist fold, floor-rounded to integer micros BEFORE the
    {PQ_M}-term sum, so ADC scores are exact integers and both top-k
    orders break ties on (score, vec_id).

    Shape: codes explode to {PQ_M}·N skinny rows that join a BROADCAST
    {PQ_M}·{PQ_K}·|Q| lookup table — the N·|Q| candidate scoring never
    touches a raw embedding, which is the entire point of PQ; the
    exact leg is the one brute-force pass (audit-only, not shipped).
    At 100 TB the ADC leg's cost is a broadcast hash join over code
    rows — the RAM-resident search a production IVF-PQ index runs
    inside each probed cell."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.filter(
        (F.col("vec_id") % PQ_SEED_MOD == 0)
        & (F.col("vec_id") < PQ_SEED_MOD * PQ_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cente"))
    from kafka_to_parquet_spark.functions.vectors import sqdist_expr

    # codes in long form: reuse the exact scored/argmin stage of
    # q_embed_pq (shared sub-distance expressions), then posexplode.
    dists = [
        F.round(
            F.expr(
                sqdist_expr(
                    f"slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                    f"slice(cente, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                )
            ),
            6,
        ).alias(f"d{s}")
        for s in range(PQ_M)
    ]
    scored = e.crossJoin(F.broadcast(cent)).select("vec_id", "cent_id", *dists)
    agg = scored.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cent_id").alias("c")))
            .alias(f"m{s}")
            for s in range(PQ_M)
        ]
    )
    codes = agg.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(f"CAST(m{s}.c AS BIGINT)") for s in range(PQ_M)])
        ).alias("s", "code"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    lut_d = [
        F.round(
            F.expr(
                sqdist_expr(
                    f"slice(qe, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                    f"slice(cente, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                )
            ),
            6,
        ).alias(f"ld{s}")
        for s in range(PQ_M)
    ]
    lut = (
        q.crossJoin(F.broadcast(cent))
        .select("q_id", "cent_id", *lut_d)
        .select(
            "q_id",
            "cent_id",
            F.posexplode(F.array(*[F.col(f"ld{s}") for s in range(PQ_M)])).alias(
                "s", "d"
            ),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes.s == lut.s) & (codes.code == lut.cent_id),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.expr("CAST(floor(d * 1000000.0 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("adc_mu")
        )
    )
    wa = Window.partitionBy("q_id").orderBy("adc_mu", "vec_id")
    ta = (
        adc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= TOP_K)
        .select(F.col("q_id").alias("ta_q"), F.col("vec_id").alias("a_vec"))
    )
    ex = (
        q.crossJoin(e)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(F.expr(sqdist_expr("qe", "embedding")), 6).alias("d2"),
        )
    )
    we = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    te = (
        ex.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id")
    )
    return (
        te.join(
            ta,
            (F.col("q_id") == F.col("ta_q")) & (F.col("vec_id") == F.col("a_vec")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.sum(
                F.when(F.col("a_vec").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
            F.expr(
                f"CAST(sum(CASE WHEN a_vec IS NOT NULL THEN 1 ELSE 0 END) "
                f"* 10000 DIV {TOP_K} AS BIGINT)"
            ).alias("recall_bp"),
        )
        .orderBy("q_id")
    )
