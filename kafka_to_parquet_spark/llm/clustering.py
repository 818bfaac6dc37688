"""Embedding clustering: one exact, deterministic Lloyd (k-means)
step over the ``embeddings`` table — the building block of semantic
dedup / corpus diversification pipelines (cluster, then sample or cap
per cluster). SemDeDup-style dedup is exactly this: cluster the
embedding space, then keep representatives per cluster.

One step (assign to nearest centroid, recompute centroids as the
per-dimension mean of the assigned vectors) is the whole iterative
algorithm's data-flow — iterating is a driver-side loop over the same
two exchanges (cf. llm/components.py's label-propagation loop for the
established iteration pattern). The step itself is oracle-checkable
because everything is deterministic: seeded centroids, squared-L2
rounded to 6 dp with centroid-id tiebreak, and per-dimension means
fenced to integer micro-units.

100 TB shape: the centroid set is k vectors (fixed, small) →
broadcast; assignment is an embarrassingly parallel N×k distance scan
with NO corpus shuffle. The update step explodes each assigned vector
to (centroid, dim, unit) rows — the one shuffle, and it carries
k·D rows per map task after partial aggregation (map-side combine on
(centroid, dim)), never N·D. That is the canonical distributed
k-means; MLlib's implementation has the same skeleton, but this form
is pure DataFrame ops and exactly mirrorable in SQL.

Reference parity: the reference (src/main.rs:59-294) has no vector
surface; this is part of the mandated LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.vectors import (
    duck_cosine,
    duck_int_sqdist,
    duck_micro,
    duck_sqdist,
    int_sqdist_expr,
    micro_expr,
    sqdist_expr,
    unit_mean,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# Seed centroids for the Lloyd queries (q_kmeans_step, q_kmeans3):
# every KM_MOD-th vector, capped at KM_K seeds — a FIXED k. k-means'
# cluster count is a model hyperparameter, not a function of corpus
# size; letting k grow with N made the broadcast-assign stage N·k =
# O(N²/KM_MOD) and showed up as the round-4 SCALING.md exponent of
# 1.21 for q_kmeans_step (5 centroids at sf0.01 but 20 at sf0.1).
# With the cap the assign stage is k·N = linear, the Lloyd semantic.
# q_semdedup deliberately keeps k ∝ N (uncapped) — there the centroid
# set is a BLOCKING grid whose cluster size N/k must stay bounded for
# the Σ(N/k)² pairwise stage, the SemDeDup recipe.
KM_MOD = 100
KM_K = 5


def ivf_seeds(e: DataFrame, mod: int, cap: int | None = None) -> DataFrame:
    """The (cent_id, cente) seed set: every ``mod``-th vector,
    optionally capped to the first ``cap`` seeds. Small by
    construction — the side every IVF/Lloyd stage broadcasts."""
    cond = F.col("vec_id") % mod == 0
    if cap is not None:
        cond = cond & (F.col("vec_id") < mod * cap)
    return e.filter(cond).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cente")
    )


def ivf_scored(
    e: DataFrame, mod: int, cap: int | None = None, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(vector × seed) distance table behind the IVF / Lloyd family:
    :func:`ivf_seeds` broadcast into the corpus scan; distance is the
    6-dp ROUNDED squared L2 so an ulp-level divergence between engines
    can't flip a downstream argmin. Returns
    (vec_id, embedding, *keep, cent_id, d2) — the oracle twin is
    :func:`duck_ivf_assign_cte`'s ``scored`` CTE. ``keep`` passes
    per-vector attribute columns (e.g. ``label``) through the stage so
    a filtered-ANN consumer doesn't need an N×N join-back to recover
    them — production IVF indexes store filter metadata per indexed
    vector for exactly this reason."""
    cent = ivf_seeds(e, mod, cap)
    return e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        *keep,
        "cent_id",
        F.round(F.expr(sqdist_expr("embedding", "cente")), 6).alias("d2"),
    )


def ivf_assign(
    e: DataFrame, mod: int, cap: int | None = None, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-seed assignment, the stage shared by the whole IVF /
    Lloyd family (q_kmeans_step with ``cap``, q_knn_graph_ivf without):
    argmin over :func:`ivf_scored` with cent_id tiebreak. Returns
    (vec_id, embedding, *keep, cent_id).

    The argmin is a map-side-combinable min(struct) aggregate, NOT a
    window: with the centroids broadcast, every (vector, centroid) row
    for one vector sits in the same task, so the partial min reduces k
    scored rows to 1 BEFORE the exchange — the shuffle carries N
    pre-reduced rows, where a row_number() window would shuffle N·k.
    Lexicographic struct comparison (d2, cent_id) is exactly the
    (distance, id) tiebreak the oracle's ORDER BY d2, cent_id uses.
    ``keep`` columns ride along via first() — constant per vec_id, so
    first() is deterministic."""
    return (
        ivf_scored(e, mod, cap, keep)
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cent_id")).alias("m"),
            F.first("embedding").alias("embedding"),
            *[F.first(c).alias(c) for c in keep],
        )
        .select(
            "vec_id", "embedding", *keep, F.col("m.cent_id").alias("cent_id")
        )
    )


def duck_ivf_assign_cte(
    mod: int, cap: int | None = None, keep: tuple[str, ...] = ()
) -> str:
    """DuckDB twin of :func:`ivf_assign` — the ``cent``/``scored``/
    ``assign`` CTE fragment, one definition for every oracle in the
    family so a rounding or tiebreak change can't diverge the twins."""
    capsql = f" AND vec_id < {mod * cap}" if cap is not None else ""
    kept_e = "".join(f", e.{c}" for c in keep)
    kept = "".join(f", {c}" for c in keep)
    return f"""cent AS (
  SELECT vec_id AS cent_id, embedding AS cente
  FROM embeddings WHERE vec_id % {mod} = 0{capsql}
),
scored AS (
  SELECT e.vec_id, e.embedding{kept_e}, c.cent_id,
         round({duck_sqdist('e.embedding', 'c.cente')}, 6) AS d2
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, embedding{kept}, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
        FROM scored)
  WHERE rn = 1
)"""


@query(
    "q_kmeans_step",
    oracle=f"""
WITH {duck_ivf_assign_cte(KM_MOD, KM_K)},
exploded AS (
  SELECT cent_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         unnest({duck_micro('embedding')}) AS u
  FROM assign
),
dimstat AS (
  SELECT cent_id, dim, CAST(sum(u) AS BIGINT) AS su,
         CAST(count(*) AS BIGINT) AS n
  FROM exploded GROUP BY cent_id, dim
),
dimmean AS (
  SELECT cent_id, dim, n, {unit_mean('su', 'n')} AS mu
  FROM dimstat
)
SELECT cent_id, CAST(max(n) AS BIGINT) AS n_assigned,
       array_to_string(list(mu ORDER BY dim), ',') AS centroid_mu
FROM dimmean GROUP BY cent_id
""",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: nearest-centroid assignment (squared L2,
    6-dp rounding, centroid-id tiebreak) followed by the per-dimension
    mean update, emitted per centroid as (cluster size, new centroid
    serialized to comma-joined integer micro-units — the registry's
    no-array-outputs discipline).

    Every seed centroid is its own nearest centroid (d²=0), so no
    cluster is empty and the output has exactly ⌈N/KM_MOD⌉ rows.

    Plan: centroids broadcast into the corpus scan, and the argmin is
    a map-side-combinable min(struct) aggregate — each task pre-reduces
    its vectors' k scored rows to one before the vec_id exchange, so
    the assignment shuffle carries N rows (never N·k, which a
    row_number window over the scored set would);
    posexplode then fans each assigned vector into (centroid, dim,
    micro-unit) rows that partially aggregate map-side before the one
    (centroid, dim)-keyed exchange; the regroup to one row per
    centroid moves k·D tiny rows. Means are integer micro-units end
    to end: the per-dimension sum is an exact 63-bit integer, and
    ``floor(su/n + 0.5)`` is the identical two-FP-op sequence in both
    engines."""
    e = load(spark, sf_dir, "embeddings")
    # Shared assign stage (see ivf_assign for the min-struct-vs-window
    # shuffle argument) with the fixed-k cap.
    assign = ivf_assign(e, KM_MOD, KM_K)
    exploded = assign.select(
        "cent_id", F.posexplode(F.expr(micro_expr("embedding"))).alias("dim", "u")
    )
    dimstat = exploded.groupBy("cent_id", "dim").agg(
        F.sum("u").alias("su"), F.count("*").alias("n")
    )
    dimmean = dimstat.select(
        "cent_id",
        "dim",
        "n",
        F.expr(unit_mean("su", "n")).alias("mu"),
    )
    return dimmean.groupBy("cent_id").agg(
        F.max("n").alias("n_assigned"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(dim, mu))),"
            " s -> CAST(s.mu AS STRING)), ',')"
        ).alias("centroid_mu"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup = cluster the embedding space, prune
# near-duplicates WITHIN each cluster only
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.15  # same demo threshold as llm/dedup.py's EMBED_NEAR_TAU

_DUCK_COS = duck_cosine("a.embedding", "b.embedding")


@query(
    "q_semdedup",
    oracle=f"""
WITH prm AS (
  SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) AS s
  FROM embeddings WHERE vec_id % {KM_MOD} = 0
),
coarse AS (
  SELECT vec_id AS ccell, embedding AS cce
  FROM embeddings WHERE vec_id % ({KM_MOD} * (SELECT s FROM prm)) = 0
),
vsc AS (
  SELECT e.vec_id, e.embedding, c.ccell,
         round({duck_sqdist('e.embedding', 'c.cce')}, 6) AS d2
  FROM embeddings e CROSS JOIN coarse c
),
vcoarse AS (
  SELECT vec_id, embedding, ccell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, ccell) AS rn
        FROM vsc)
  WHERE rn = 1
),
fhome AS (
  SELECT vec_id AS cent_id, embedding AS cente, ccell
  FROM vcoarse WHERE vec_id % {KM_MOD} = 0
),
fscore AS (
  SELECT v.vec_id, v.embedding, f.cent_id,
         round({duck_sqdist('v.embedding', 'f.cente')}, 6) AS d2
  FROM vcoarse v JOIN fhome f ON v.ccell = f.ccell
),
assign AS (
  SELECT vec_id, embedding, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
        FROM fscore)
  WHERE rn = 1
),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_DUCK_COS} >= {SEMDEDUP_TAU}
)
SELECT s.vec_id, s.cent_id,
       CASE WHEN p.vec_id IS NOT NULL THEN 'pruned' ELSE 'kept' END AS status
FROM assign s LEFT JOIN pruned p ON s.vec_id = p.vec_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023's pipeline
    shape): cluster the embedding space, then prune a vector if a
    LOWER-id vector in the SAME cluster is closer than the cosine
    threshold. The cluster is the blocking bucket — pairwise cosine is
    confined to Σ cluster², never corpus², and the keep-lowest-id rule
    is deterministic (it can over-prune a similarity chain relative to
    a connected-components grouping; that is the documented,
    oracle-mirrored semantics — llm/components.py holds the exact
    grouping form).

    Assignment is COARSE-THEN-FINE (the faiss IVF quantizer-of-
    quantizers recipe, replacing round 5's brute-force N·k argmin —
    with k ∝ N that stage was N²/{KM_MOD}): the fine centroid grid
    stays every {KM_MOD}-th vector (k ∝ N, so cluster size N/k stays
    bounded for the pairwise stage — SemDeDup's requirement), a coarse
    grid of every s-th fine centroid (s = ⌊√k⌋ ⇒ ~√k coarse cells,
    recomputed from the corpus so both engines derive it identically)
    is assigned first, and each vector then takes an exact argmin over
    ONLY the fine centroids homed in its coarse cell (~√k of them).
    Assignment cost drops from N·k to ~2·N·√k; the trade is the usual
    hierarchical-quantizer approximation (a vector whose true nearest
    fine centroid is homed in a different coarse cell gets its best
    in-cell centroid instead), mirrored term-for-term by the oracle.

    Plan (restructured per round-6 verdict item 7): both argmins are
    map-side-combinable min(struct) aggregates over broadcast sets
    (shuffle carries N pre-reduced rows, never N·√k). The coarse
    argmin runs ONCE over the whole corpus and is localCheckpoint-ed:
    the fine centroids are corpus vectors scored by the identical
    expression and tiebreak, so their coarse homing (fhome, k rows,
    broadcast) is that table FILTERED — round 6 ran a separate k·√k
    crossJoin + agg + broadcast for it. The fine-within-cell probe is
    a broadcast equi join on the coarse cell, and the within-cluster
    pairwise prune is ONE applyInPandas over cent_id (numpy Gram
    matrix per bounded cluster, bit-parity via np_seq_dot — see the
    inline comment), replacing round 6's self-join + interpreted
    cosine fold + distinct + join-back, whose real pair work AQE had
    coalesced onto a single partition. The coarse-grid stride s comes
    from one count() — a driver-side scalar, the components.py
    discipline."""
    import math

    from kafka_to_parquet_spark.functions.vectors import np_seq_dot

    e = load(spark, sf_dir, "embeddings")
    # No KM_K cap here, deliberately: semdedup's centroids are a
    # blocking grid (every {KM_MOD}-th vector) — k must grow with N so
    # cluster size N/k stays bounded for the Σ(N/k)² within-cluster
    # pairwise stage.
    # Coarse stride: s = ⌊√k⌋ via the same IEEE double sqrt+floor the
    # oracle's SQL computes — identical value by construction.
    k = e.filter(F.col("vec_id") % KM_MOD == 0).count()
    s = max(1, math.floor(math.sqrt(k)))
    coarse = e.filter(F.col("vec_id") % (KM_MOD * s) == 0).select(
        F.col("vec_id").alias("ccell"), F.col("embedding").alias("cce")
    )
    # Every vector to its nearest coarse cell: N·√k work, broadcast
    # coarse side, argmin as min(struct). Materialized ONCE — the fine
    # centroids are corpus vectors scored by the identical expression
    # and tiebreak, so their coarse homing is this table FILTERED, not
    # a second crossJoin (round-6 verdict item 7: the separate k·√k
    # fhome stage and its jobs are gone).
    vcoarse = (
        e.crossJoin(F.broadcast(coarse))
        .select(
            "vec_id",
            "embedding",
            "ccell",
            F.round(F.expr(sqdist_expr("embedding", "cce")), 6).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "ccell")).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("m.ccell").alias("ccell"))
        # one materialization feeding both the broadcast fhome side and
        # the streamed probe side
        .localCheckpoint(eager=False)
    )
    fhome = vcoarse.filter(F.col("vec_id") % KM_MOD == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cente"),
        "ccell",
    )
    # Exact argmin over the ~√k fine centroids homed in the vector's
    # coarse cell: broadcast equi join (fhome is k tiny rows), then
    # the same map-side-combinable min(struct). Single consumer (the
    # per-cluster prune below), so no materialization needed.
    assign = (
        vcoarse.join(F.broadcast(fhome), "ccell")
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
        .select("vec_id", F.col("m.cent_id").alias("cent_id"), "embedding")
    )

    # Within-cluster pairwise prune as ONE applyInPandas over the
    # cluster key: each group is a bounded cluster (~KM_MOD vectors by
    # the k ∝ N grid), and numpy computes its full Gram matrix in one
    # vectorized shot. Round 6 spelled this stage as a cent_id
    # self-join + cosine filter + distinct + join-back — the
    # interpreted aggregate() fold then costs ~14 µs per pair and AQE
    # coalesces the tiny join to ONE partition, so the query's real
    # work (177k pairs at sf0.1, ~2.4 s) ran serially. Here the pair
    # work is numpy inside whole-cluster Arrow batches, parallel by
    # cluster, and the exchange carries the N assigned vectors, never
    # the pair stream. Bit-parity with the SQL oracle holds because
    # np_seq_dot's cumsum accumulates in the exact IEEE op order of
    # the aggregate()/list_reduce folds (np.dot's pairwise summation
    # would not — tests/test_round7.py asserts the equivalence).
    def _prune_cluster(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        emb = np.stack(
            [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
        ).astype(np.float64)
        nrm = np.sqrt(np_seq_dot(emb * emb))
        pruned = np.zeros(n, dtype=bool)
        # j-blocks bound the n×B×D product tensor to ~64 MB at any
        # cluster size (defensive: the grid keeps n ≈ KM_MOD, but a
        # skewed corpus could concentrate a cell).
        blk = max(1, 131072 // max(n, 1))
        for j0 in range(0, n, blk):
            j1 = min(n, j0 + blk)
            dots = np_seq_dot(emb[:, None, :] * emb[None, j0:j1, :])
            cos = dots / (nrm[:, None] * nrm[None, j0:j1])
            hit = cos >= SEMDEDUP_TAU
            # prune j iff ANY i < j (vec_id order == row order) hits
            cols = np.arange(j0, j1)
            mask = np.arange(n)[:, None] < cols[None, :]
            pruned[j0:j1] |= (hit & mask).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cent_id": pdf["cent_id"],
                "status": np.where(pruned, "pruned", "kept"),
            }
        )

    return assign.groupBy("cent_id").applyInPandas(
        _prune_cluster, "vec_id bigint, cent_id bigint, status string"
    )


# ---------------------------------------------------------------------------
# Multi-round k-means: 3 Lloyd iterations, bit-exact across engines
# ---------------------------------------------------------------------------

KM3_ROUNDS = 3


def _km3_oracle() -> str:
    """Chained-CTE mirror of the Spark loop (same integer ops per
    round — the graph.q_graph_pagerank oracle discipline)."""
    ctes = [
        f"""uv AS (
  SELECT vec_id, {duck_micro('embedding')} AS uvec FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id AS cent_id, uvec AS carr
  FROM uv WHERE vec_id % {KM_MOD} = 0 AND vec_id < {KM_MOD * KM_K}
)""",
    ]
    for k in range(1, KM3_ROUNDS + 1):
        ctes.append(
            f"""sc{k} AS (
  SELECT uv.vec_id, uv.uvec, c.cent_id,
         {duck_int_sqdist('uv.uvec', 'c.carr')} AS d2
  FROM uv CROSS JOIN c{k - 1} c
)"""
        )
        ctes.append(
            f"""a{k} AS (
  SELECT vec_id, uvec, cent_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
        FROM sc{k})
  WHERE rn = 1
)"""
        )
        ctes.append(
            f"""ex{k} AS (
  SELECT cent_id, generate_subscripts(uvec, 1) AS dim, unnest(uvec) AS u
  FROM a{k}
)"""
        )
        ctes.append(
            f"""dm{k} AS (
  SELECT cent_id, dim, {unit_mean('sum(u)', 'count(*)')} AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM ex{k} GROUP BY cent_id, dim
)"""
        )
        ctes.append(
            f"""c{k} AS (
  SELECT cent_id, list(mu ORDER BY dim) AS carr,
         CAST(max(n) AS BIGINT) AS n_assigned
  FROM dm{k} GROUP BY cent_id
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT cent_id, n_assigned, array_to_string(carr, ',') AS centroid_mu
FROM c{KM3_ROUNDS}
"""
    )


@query("q_kmeans3", oracle=_km3_oracle())
def q_kmeans3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{R} full Lloyd iterations — the iterative form of q_kmeans_step,
    and (with llm/components.py's label propagation and
    operators/graph.py's PageRank) the third demonstration that
    iteration on Spark is a bounded chain of join+aggregate rounds
    with nothing driver-side but the loop counter.

    Bit-exactness across engines, by construction: coordinates are
    fenced ONCE to integer micro-units; from then on every distance is
    an exact 63-bit integer (no float compare can straddle an ulp),
    every argmin is (d2, cent_id)-lexicographic, and every centroid
    update re-enters integer units via the shared floor(su/n + 0.5).
    Clusters that lose all members simply drop out of later rounds —
    identically in both engines.

    Plan, per round: the (small) centroid array table broadcasts into
    the corpus scan; argmin is the map-side-combinable min(struct)
    (shuffle carries N pre-reduced rows); the update explodes assigned
    vectors into (centroid, dim, unit) rows that partially aggregate
    before the one (centroid, dim) exchange. Three rounds = a linear
    DAG of those stages; at 100 TB each round is the same two
    exchanges PageRank pays per iteration, with the centroid side
    always broadcast-sized."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(micro_expr("embedding")).alias("uvec")
    )
    cents = e.filter(
        (F.col("vec_id") % KM_MOD == 0) & (F.col("vec_id") < KM_MOD * KM_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("uvec").alias("carr"))
    d2 = int_sqdist_expr("uvec", "carr")
    for _ in range(KM3_ROUNDS):
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "uvec", "cent_id", F.expr(d2).alias("d2")
        )
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "cent_id")).alias("m"),
                F.first("uvec").alias("uvec"),
            )
            .select("vec_id", "uvec", F.col("m.cent_id").alias("cent_id"))
        )
        dimmean = (
            assign.select("cent_id", F.posexplode("uvec").alias("dim", "u"))
            .groupBy("cent_id", "dim")
            .agg(
                F.expr(unit_mean("sum(u)", "count(*)")).alias("mu"),
                F.count("*").alias("n"),
            )
        )
        cents = dimmean.groupBy("cent_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, mu))), s -> s.mu)"
            ).alias("carr"),
            F.max("n").alias("n_assigned"),
        )
    return cents.select(
        "cent_id",
        "n_assigned",
        F.expr("array_join(transform(carr, x -> CAST(x AS STRING)), ',')").alias(
            "centroid_mu"
        ),
    )
