"""Distributed linear algebra over the ``embeddings`` table: one
power-iteration step toward the corpus's top principal direction.

Embedding-space diagnostics (anisotropy, dominant-direction removal —
the "all-but-the-top" post-processing of Mu & Viswanath 2018, drift
detection between corpus snapshots) all start from the top eigenvector
of the Gram matrix Xᵀ X. Power iteration computes it as the fixed
point of v ← Xᵀ(X·v): each step is two embarrassingly parallel passes
over the vectors — a per-row dot product, then a per-dimension
weighted sum — i.e. exactly one map + one (dim)-keyed aggregate in
Spark, with nothing driver-side but the O(D) renormalization between
steps (the q_kmeans3 / PageRank iteration discipline).

Reference parity: the reference (src/main.rs:59-294) has no vector
surface; this is part of the mandated LLM-pipeline extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.vectors import (
    duck_int_sum,
    duck_micro,
    int_sum_expr,
    micro_expr,
    unit_mean,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load


@query(
    "q_pca_power",
    oracle=f"""
WITH uv AS (
  SELECT vec_id, {duck_micro('embedding')} AS u
  FROM embeddings
),
d AS (
  SELECT vec_id, u,
         {duck_int_sum('u')} AS dot0
  FROM uv
),
ex AS (
  SELECT CAST(generate_subscripts(u, 1) - 1 AS INTEGER) AS dim,
         unnest(u) * dot0 AS c
  FROM d
)
SELECT dim, CAST(sum(c) AS BIGINT) AS comp
FROM ex GROUP BY dim
""",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top principal direction:
    v₁ = Xᵀ(X·v₀) with the deterministic all-ones start vector v₀,
    reported per dimension as the exact integer accumulation in
    micro-units² (unnormalized — renormalization divides by ‖v₁‖,
    an O(D) driver-side scalar between iterations, deliberately left
    outside the declared step so every reported number stays an exact
    integer both engines reproduce bit-for-bit).

    Plan: coordinates fence ONCE to integer micro-units; the per-row
    dot product X·v₀ is a map-side array fold (no shuffle), and
    Xᵀ(X·v₀) explodes each vector to (dim, uᵢ·dot) rows that partially
    aggregate map-side before the single D-key exchange — the shuffle
    carries D rows per task, never N·D. At 100 TB this is one
    scan-bound pass per iteration, the exact skeleton of MLlib's
    RowMatrix power iteration re-expressed as DataFrame ops. Ceiling:
    with |x| ≤ 1 the per-row contribution is ≤ D·10¹² ≈ 6.4e13, so the
    int64 sums hold ~10⁵ vectors per partial; past that the
    accumulator moves to DECIMAL(38,0) partials — the per-row math is
    unchanged."""
    e = load(spark, sf_dir, "embeddings")
    u = e.select(
        "vec_id",
        F.expr(micro_expr("embedding")).alias("u"),
    )
    d = u.select(
        "u",
        F.expr(int_sum_expr("u")).alias("dot0"),
    )
    return (
        d.select(F.posexplode("u").alias("dim", "ui"), "dot0")
        .groupBy("dim")
        .agg(F.sum(F.col("ui") * F.col("dot0")).cast("long").alias("comp"))
    )


@query(
    "q_embed_dimstats",
    oracle=f"""
WITH uv AS (
  SELECT {duck_micro('embedding')} AS u
  FROM embeddings
),
ex AS (
  SELECT CAST(generate_subscripts(u, 1) - 1 AS INTEGER) AS dim, unnest(u) AS ui
  FROM uv
)
SELECT dim,
       CAST(count(*) AS BIGINT) AS n,
       {unit_mean('sum(ui)', 'count(*)')} AS mean_mu,
       CAST(round((CAST(sum(ui * ui) AS DOUBLE)
                   - CAST(sum(ui) AS DOUBLE) * sum(ui) / count(*))
                  / count(*)) AS BIGINT) AS var_mu2
FROM ex GROUP BY dim
""",
)
def q_embed_dimstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health profile: per-dimension mean and variance
    in integer micro-units — the screen for dead dimensions (zero
    variance), dominant dimensions (anisotropy — read with
    q_pca_power), and drift between corpus snapshots. The first thing
    to look at before trusting cosine distances over a new embedding
    column.

    Integer discipline: coordinates fence once to micro-units;
    Σu and Σu² are exact BIGINTs (u² ≤ 1.6e13 at |x| ≤ 4 — int64
    holds ~500k vectors per partial; DECIMAL(38,0) partials past
    that); the mean is the shared ``unit_mean`` floor(su/n + 0.5) and
    the variance is ONE all-double expression over exact integers
    (the chi2 pattern), so both engines round the same value.

    Shape: posexplode to (dim, unit) rows with map-side partial
    aggregation — the one exchange carries D rows per task, the
    q_pca_power / q_kmeans_step update-stage topology."""
    e = load(spark, sf_dir, "embeddings")
    u = e.select(
        F.expr(micro_expr("embedding")).alias("u")
    )
    return (
        u.select(F.posexplode("u").alias("dim", "ui"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(unit_mean("sum(ui)", "count(*)")).alias("mean_mu"),
            F.expr(
                "CAST(round((CAST(sum(ui * ui) AS DOUBLE)"
                " - CAST(sum(ui) AS DOUBLE) * sum(ui) / count(*))"
                " / count(*)) AS BIGINT)"
            ).alias("var_mu2"),
        )
    )
