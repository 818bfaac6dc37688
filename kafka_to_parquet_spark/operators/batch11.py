"""Batch 11 — scale-audit operators for the LLM-data pipeline
(round-11 verdict item 8's two named candidates):

* ``q_quant_error_curve`` — embedding-quantization error/rank-
  preservation curve over bits ∈ {8, 4, 2}, extending
  ``q_embed_quantize``/``q_sim_topk_int8`` from "one quantizer" to the
  measured trade-off a pipeline reads before picking an index width.
* ``q_sample_hash_stratified`` — deterministic hash-threshold
  stratified sampling with a sqrt-allocation budget and an
  unbiasedness audit; the sort-free scale path next to
  functions/text.py's rank-window ``q_sample_stratified`` (exact
  per-stratum k, but each stratum sorts — the design that does NOT
  survive a 40 TB stratum, which is the point of this twin).

Reference parity: the reference (src/main.rs:59-294) has no
similarity or sampling surface; both are part of the mandated
LLM-pipeline extension tier (SURVEY §2.11 X2/X4).

Both queries follow the batch9/10 bar: exact integer/mirrored-double
determinism, full DuckDB oracle, no corpus-quadratic term, no
driver-side rows beyond the report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.hashes import duck_h62, spark_h62
from kafka_to_parquet_spark.functions.vectors import (
    amax_expr,
    duck_amax,
    duck_int_dot,
    duck_micro,
    duck_quantize,
    int_dot_expr,
    micro_expr,
    quantize_expr,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# ---------------------------------------------------------------------------
# Embedding-quantization error curve
# ---------------------------------------------------------------------------

QC_BITS = (8, 4, 2)          # symmetric int-b quantization levels
QC_QUERIES = 10              # rank-preservation probe set: vec_id < 10
QC_TOPK = 5                  # neighbors per query in the overlap audit

# Per-element absolute reconstruction error in micro-units: the ONE
# mirrored double expression (q * step is a BIGINT·DOUBLE product,
# subtraction and abs in IEEE double, then the floor(+0.5) micro
# round) — the q_graph_modularity contrib_micro discipline.
_ERR_SPARK = (
    "aggregate(zip_with(embedding, qv, (x, q) ->"
    " CAST(floor(abs(CAST(x AS DOUBLE) - q * (amax / QM.0)) * 1000000 + 0.5)"
    " AS BIGINT)), CAST(0 AS BIGINT), (a, e) -> a + e)"
)
_ERRMAX_SPARK = (
    "array_max(zip_with(embedding, qv, (x, q) ->"
    " CAST(floor(abs(CAST(x AS DOUBLE) - q * (amax / QM.0)) * 1000000 + 0.5)"
    " AS BIGINT)))"
)


def _quant_oracle() -> str:
    legs = []
    for b in QC_BITS:
        qm = (1 << (b - 1)) - 1
        legs.append(f"""
SELECT {b} AS bits, vec_id, embedding, amax,
       {duck_quantize('embedding', 'amax', qm)} AS qv, {qm} AS qm
FROM a""")
    err_u = (
        "list_transform(range(1, len(embedding) + 1), i ->"
        " CAST(floor(abs(CAST(embedding[i] AS DOUBLE)"
        " - qv[i] * (amax / CAST(qm AS DOUBLE))) * 1000000 + 0.5) AS BIGINT))"
    )
    return f"""
WITH a AS (
  SELECT vec_id, embedding, {duck_amax('embedding')} AS amax,
         {duck_micro('embedding')} AS em
  FROM embeddings
),
legs AS ({" UNION ALL ".join(legs)}),
err AS (
  SELECT bits, vec_id, {err_u} AS eu, len(embedding) AS n_el
  FROM legs
),
stats AS (
  SELECT bits,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(list_sum(eu)) // sum(n_el) AS BIGINT) AS mae_micro,
         CAST(max(list_max(eu)) AS BIGINT) AS max_err_micro
  FROM err GROUP BY bits
),
qex AS (SELECT vec_id AS q_id, em AS qem FROM a WHERE vec_id < {QC_QUERIES}),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, s.vec_id AS c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             {duck_int_dot('q.qem', 's.em')} DESC, s.vec_id) AS rn
    FROM qex q CROSS JOIN a s WHERE s.vec_id <> q.q_id)
  WHERE rn <= {QC_TOPK}
),
qq AS (SELECT bits, vec_id AS q_id, qv AS qqv FROM legs WHERE vec_id < {QC_QUERIES}),
quant AS (
  SELECT bits, q_id, c_id FROM (
    SELECT q.bits, q.q_id, s.vec_id AS c_id,
           row_number() OVER (PARTITION BY q.bits, q.q_id ORDER BY
             {duck_int_dot('q.qqv', 's.qv')} DESC, s.vec_id) AS rn
    FROM qq q JOIN legs s ON s.bits = q.bits AND s.vec_id <> q.q_id)
  WHERE rn <= {QC_TOPK}
),
ovl AS (
  SELECT q.bits, CAST(count(*) AS BIGINT) AS overlap_at{QC_TOPK}
  FROM quant q JOIN exact e ON e.q_id = q.q_id AND e.c_id = q.c_id
  GROUP BY q.bits
)
SELECT s.bits, s.n_vecs, s.mae_micro, s.max_err_micro,
       CAST(coalesce(o.overlap_at{QC_TOPK}, 0) AS BIGINT) AS overlap_at{QC_TOPK},
       CAST({QC_QUERIES * QC_TOPK} AS BIGINT) AS possible_at{QC_TOPK}
FROM stats s LEFT JOIN ovl o ON o.bits = s.bits
ORDER BY s.bits DESC
"""


@query("q_quant_error_curve", oracle=_quant_oracle())
def q_quant_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quantization error curve: for symmetric int-b
    quantization at b ∈ {QC_BITS} (per-vector scale amax/(2^(b-1)-1),
    the q_embed_quantize arithmetic), report the reconstruction error
    (mean/max absolute element error in micro-units) AND the retrieval
    consequence (top-{QC_TOPK} overlap vs the exact ranking over a
    {QC_QUERIES}-query probe set) — the measured curve a pipeline
    reads before choosing an ANN index width, instead of trusting
    "int8 is fine" folklore. Extends q_sim_topk_int8 (one point on
    this curve) to the full trade-off, q_lsh_recall's audit
    discipline applied to quantization.

    Determinism: quantized values and integer dot products are exact
    BIGINTs; the reconstruction error is ONE mirrored double
    expression per element (BIGINT·double product, IEEE subtract/abs,
    floor(+0.5) micro round — the contrib_micro discipline), summed
    in BIGINT; the exact-ranking baseline scores on micro-int
    embeddings so no float ranking exists anywhere.

    Scale shape: 3 parametric quantize maps (per-row, no shuffle) +
    one map-side-combinable error aggregate per leg; the retrieval
    audit broadcasts the {QC_QUERIES}-query side against each leg
    (corpus × Q rows, window per (bits, q_id)) — linear in the corpus
    per leg, never pair-quadratic. At 100 TB the probe set stays
    driver-bounded and the curve costs |bits| corpus passes."""
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "embedding",
        F.expr(amax_expr("embedding")).alias("amax"),
        F.expr(micro_expr("embedding")).alias("em"),
    )

    legs = None
    for b in QC_BITS:
        qm = (1 << (b - 1)) - 1
        leg = base.select(
            F.lit(b).alias("bits"),
            "vec_id",
            "embedding",
            "amax",
            F.expr(quantize_expr("embedding", "amax", qm)).alias("qv"),
            F.lit(qm).alias("qm"),
        )
        legs = leg if legs is None else legs.unionByName(leg)

    err_expr = _ERR_SPARK.replace("QM.0", "CAST(qm AS DOUBLE)")
    errmax_expr = _ERRMAX_SPARK.replace("QM.0", "CAST(qm AS DOUBLE)")
    stats = (
        legs.select(
            "bits",
            F.expr(err_expr).alias("eu"),
            F.size("embedding").cast("long").alias("n_el"),
            F.expr(errmax_expr).alias("emax"),
        )
        .groupBy("bits")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("eu").alias("sum_eu"),
            F.sum("n_el").alias("sum_el"),
            F.max("emax").cast("long").alias("max_err_micro"),
        )
        # pure integer division (BIGINT DIV), mirroring the oracle's
        # `//` — no double quotient anywhere near the report
        .select(
            "bits",
            "n_vecs",
            F.expr("sum_eu DIV sum_el").cast("long").alias("mae_micro"),
            "max_err_micro",
        )
    )

    qex = base.filter(F.col("vec_id") < QC_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("em").alias("qem")
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    exact = (
        F.broadcast(qex)
        .crossJoin(base.select(F.col("vec_id").alias("c_id"), "em"))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", F.expr(int_dot_expr("qem", "em")).alias("score"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= QC_TOPK)
        .select("q_id", "c_id")
    )
    qq = legs.filter(F.col("vec_id") < QC_QUERIES).select(
        "bits", F.col("vec_id").alias("q_id"), F.col("qv").alias("qqv")
    )
    wb = Window.partitionBy("bits", "q_id").orderBy(
        F.desc("score"), F.asc("c_id")
    )
    quant = (
        F.broadcast(qq)
        .join(
            legs.select("bits", F.col("vec_id").alias("c_id"), "qv"), "bits"
        )
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "bits", "q_id", "c_id", F.expr(int_dot_expr("qqv", "qv")).alias("score")
        )
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= QC_TOPK)
        .select("bits", "q_id", "c_id")
    )
    ovl_col = f"overlap_at{QC_TOPK}"
    ovl = (
        quant.join(exact, ["q_id", "c_id"])
        .groupBy("bits")
        .agg(F.count("*").cast("long").alias(ovl_col))
    )
    return (
        stats.join(ovl, "bits", "left")
        .select(
            "bits",
            "n_vecs",
            "mae_micro",
            "max_err_micro",
            F.coalesce(F.col(ovl_col), F.lit(0)).cast("long").alias(ovl_col),
            F.lit(QC_QUERIES * QC_TOPK).cast("long").alias(
                f"possible_at{QC_TOPK}"
            ),
        )
        .orderBy(F.desc("bits"))
    )


q_quant_error_curve.__doc__ = q_quant_error_curve.__doc__.replace(
    "{QC_BITS}", str(QC_BITS)
).replace("{QC_TOPK}", str(QC_TOPK)).replace("{QC_QUERIES}", str(QC_QUERIES))


# ---------------------------------------------------------------------------
# Deterministic hash-threshold stratified sampling + unbiasedness audit
# ---------------------------------------------------------------------------

SAMPLE_BUDGET_BP = 2000   # total sample budget: 20% of the corpus
SAMPLE_HASH_M = 1_000_000  # hash-threshold granularity (ppm)


def _sample_oracle() -> str:
    h = duck_h62("CAST(doc_id AS VARCHAR)")
    return f"""
WITH strata AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         CAST(sum(w) AS BIGINT) AS w_sum
  FROM strata
),
alloc AS (
  SELECT s.lang, s.n_docs, s.sum_chars,
         CAST(((t.n_total * {SAMPLE_BUDGET_BP}) // 10000) * s.w // t.w_sum
              AS BIGINT) AS target_k
  FROM strata s CROSS JOIN tot t
),
rates AS (
  SELECT *, CAST(target_k * {SAMPLE_HASH_M} // n_docs AS BIGINT) AS rate_ppm
  FROM alloc
),
picked AS (
  SELECT d.lang,
         CAST(count(*) AS BIGINT) AS achieved_k,
         CAST(sum(d.n_chars) AS BIGINT) AS sum_chars_sample
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE ({h}) % {SAMPLE_HASH_M} < r.rate_ppm
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.target_k, r.rate_ppm,
       CAST(coalesce(p.achieved_k, 0) AS BIGINT) AS achieved_k,
       CAST(r.sum_chars // r.n_docs AS BIGINT) AS mean_chars_all,
       CAST(CASE WHEN coalesce(p.achieved_k, 0) = 0 THEN -1
                 ELSE p.sum_chars_sample // p.achieved_k END AS BIGINT)
         AS mean_chars_sample
FROM rates r LEFT JOIN picked p ON p.lang = r.lang
ORDER BY r.lang
"""


@query("q_sample_hash_stratified", oracle=_sample_oracle())
def q_sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling audit: allocate a
    {SAMPLE_BUDGET_BP}-bp corpus budget across language strata
    proportional to sqrt(stratum size) (the classic variance-balancing
    compromise between equal and proportional allocation), select
    documents by a 62-bit hash threshold, and report target vs
    achieved counts plus a mean-length unbiasedness check per stratum
    — the audit a mixture pipeline runs on every sampling stage.

    THE SCALE DECISION IS THE SELECTION RULE: exact-k-per-stratum
    sampling needs a per-stratum rank (a window that sorts each
    stratum — at 100 TB one stratum can be 40 TB, and a
    partitionBy(stratum) window puts it in ONE task). The
    hash-threshold rule ``h62(doc_id) % M < rate_ppm`` is a pure
    per-row predicate: no sort, no shuffle beyond the tiny stats
    aggregate, deterministic and reproducible (the same doc is always
    in/out for a given budget), at the cost of binomial noise around
    target_k — which is exactly what the achieved_k column measures
    and the mean_chars columns audit for bias. Selection is by
    IDENTITY hash (h62, functions/hashes.py) so no sketch-tier
    collision policy applies.

    Determinism: allocation is integer arithmetic off exact counts
    (the one double is floor(sqrt(n)) — exact in IEEE for any count
    below 2^52); the selection hash and all report columns are
    BIGINTs; empty-sample strata report mean_chars_sample = -1.

    Scale shape: one stats aggregate (5 rows) broadcast back onto one
    corpus scan with a per-row hash filter + map-side-combinable agg —
    two corpus passes total, zero corpus-sized exchanges."""
    d = load(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).withColumn(
        "w",
        F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"),
    )
    tot = strata.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("w").cast("long").alias("w_sum"),
    )
    rates = (
        strata.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_k",
            F.expr(
                f"((n_total * {SAMPLE_BUDGET_BP}) DIV 10000) * w DIV w_sum"
            ).cast("long"),
        )
        .withColumn(
            "rate_ppm",
            F.expr(f"target_k * {SAMPLE_HASH_M} DIV n_docs").cast("long"),
        )
        .select("lang", "n_docs", "sum_chars", "target_k", "rate_ppm")
    )
    h = spark_h62("CAST(doc_id AS STRING)")
    picked = (
        d.join(F.broadcast(rates.select("lang", "rate_ppm")), "lang")
        .filter(F.expr(f"({h}) % {SAMPLE_HASH_M}") < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("achieved_k"),
            F.sum("n_chars").cast("long").alias("sum_chars_sample"),
        )
    )
    return (
        rates.join(picked, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "target_k",
            "rate_ppm",
            F.coalesce(F.col("achieved_k"), F.lit(0))
            .cast("long")
            .alias("achieved_k"),
            F.expr("sum_chars DIV n_docs").cast("long").alias("mean_chars_all"),
            F.expr(
                "CASE WHEN coalesce(achieved_k, 0) = 0 THEN -1"
                " ELSE sum_chars_sample DIV achieved_k END"
            )
            .cast("long")
            .alias("mean_chars_sample"),
        )
        .orderBy("lang")
    )


q_sample_hash_stratified.__doc__ = q_sample_hash_stratified.__doc__.replace(
    "{SAMPLE_BUDGET_BP}", str(SAMPLE_BUDGET_BP)
)
