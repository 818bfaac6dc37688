"""Round-10 session additions (batch9) — one module across domains.
The batch lands the round-9 verdict's north-star candidates plus the
training-data-pipeline gaps they compose with:

- q_mix_curriculum  — quality-phased curriculum assembly (phase =
                    corpus-relative TTR band; per-phase source mix) —
                    the ordering plan a staged pretraining run reads,
                    composing q_quality_gopher's rule scores with
                    q_mix_token_budget's allocation view.
- q_pack_sequences  — concat-and-chunk context packing (the GPT-style
                    sequence packing step): per-source sequence count,
                    boundary-split docs, and tail padding at a fixed
                    context length.
- q_entropy_filter  — per-document token-distribution Shannon entropy
                    (integer micro-nats) with per-source aggregates —
                    the gibberish/boilerplate screen between length
                    rules (q_quality_gopher) and model scoring.
- q_pii_scrub       — PII detection/redaction accounting over
                    deterministically synthesized contact strings (the
                    q_synth_generator / q_multimodal_probe discipline:
                    payloads constructed in-plan from doc_id, so the
                    corpus fixture stays untouched and the oracle can
                    recompute every injected match).
- q_changepoint_cusum — CUSUM changepoint over the daily revenue
                    series, integer-exact via the scaled statistic
                    |n·S_t − t·S_n| (no division until the report).
- q_link_adamic_adar — Adamic-Adar link prediction on the co-purchase
                    projection (quantile-gated, the q_graph_kcore /
                    clustering-coeff lesson), wedge-enumerated with a
                    degree cap — non-edges ranked by Σ 1/ln(deg(w)).
- q_knn_classify    — kNN label propagation from a seed of labeled
                    embeddings to the unlabeled rest (the
                    classifier-based curation step of FineWeb-Edu-style
                    pipelines), reported as an exact confusion matrix.
- q_lm_bigram_logprob — per-document add-one-smoothed bigram LM score
                    (mean NLL in micro-nats): the statistical-LM
                    quality filter (CCNet-style perplexity screening)
                    built on the corpus's own bigram counts.

Provenance: the reference (d1eg0/kafka-to-parquet, src/main.rs — 394
lines of Rust ETL) has no analytics tier; these extend SURVEY.md §2's
X-rows (LLM-pipeline operators) mandated by the build brief. Integer /
fencing discipline throughout: exact BIGINT counts everywhere; the
irrational steps (ln) are per-term micro-floored doubles (the
q_keyness / q_collocation_llr fencing), never accumulated as floats.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo, park
from kafka_to_parquet_spark.functions.text import (
    _STOP_SQL,
    _TOKENS_SQL,
    STOP_ARRAY_EXPR,
    TOKENS_EXPR,
    tokens_col,
    word_ngrams,
    word_ngrams_sql,
)
from kafka_to_parquet_spark.functions.vectors import (
    duck_int_sqdist,
    duck_micro,
    int_sqdist_expr,
    micro_expr,
)
from kafka_to_parquet_spark.operators.graph import (
    _PAIRS_CTE,
    gated_pairs,
    gated_pairs_sql,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load, schema

# ---------------------------------------------------------------------------
# Curriculum assembly: quality-phased source mix
# ---------------------------------------------------------------------------

# Phase bands around the corpus-mean type-token ratio, in basis points.
# Offsets are fixed (not data quantiles) so the phase of a document
# depends only on its own score and one corpus scalar — at 100 TB the
# assignment is a map over the corpus after a single 1-row aggregate.
CURR_BAND_BP = 500


@query(
    "q_mix_curriculum",
    oracle=f"""
WITH sc AS (
  SELECT doc_id, source,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_toks,
         CAST(len(list_distinct({_TOKENS_SQL})) * 10000
              // len({_TOKENS_SQL}) AS BIGINT) AS ttr_bp
  FROM documents
  WHERE len({_TOKENS_SQL}) > 0
),
m AS (SELECT CAST(sum(ttr_bp) // count(*) AS BIGINT) AS avg_bp FROM sc),
ph AS (
  SELECT source, n_toks,
         CASE WHEN ttr_bp >= avg_bp + {CURR_BAND_BP} THEN 1
              WHEN ttr_bp >= avg_bp - {CURR_BAND_BP} THEN 2
              ELSE 3 END AS phase
  FROM sc CROSS JOIN m
),
agg AS (
  SELECT phase, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS tokens
  FROM ph GROUP BY phase, source
),
tot AS (SELECT phase, CAST(sum(tokens) AS BIGINT) AS ptoks FROM agg GROUP BY phase)
SELECT CAST(agg.phase AS BIGINT) AS phase, agg.source, agg.n_docs, agg.tokens,
       CAST(agg.tokens * 10000 // tot.ptoks AS BIGINT) AS phase_share_bp
FROM agg JOIN tot ON agg.phase = tot.phase
ORDER BY phase, source
""",
)
def q_mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assembly: documents are banded into three training
    phases by type-token ratio relative to the corpus mean (phase 1 =
    lexically rich, trained first; phase 3 = repetitive tail, trained
    last/downsampled) and the per-phase source mix is reported — the
    plan a staged-pretraining scheduler consumes, composing the
    q_quality_gopher-style per-doc score with q_mix_token_budget's
    per-source allocation view.

    Scale shape: one corpus scan computes (n_toks, ttr_bp) map-side;
    the corpus mean is a 1-row aggregate broadcast back (no second
    scan of text); phase assignment is a map; the report aggregates on
    the tiny (phase, source) grid. Integer-exact end to end (DIV for
    both the score and the shares)."""
    d = load(spark, sf_dir, "documents")
    sc = (
        d.select(
            "source",
            tokens_col(F.col("text")).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select(
            "source",
            F.size("toks").cast("long").alias("n_toks"),
            F.expr(
                "CAST(size(array_distinct(toks)) * 10000 DIV size(toks) AS BIGINT)"
            ).alias("ttr_bp"),
        )
    )
    m = sc.agg(
        F.expr("CAST(sum(ttr_bp) DIV count(*) AS BIGINT)").alias("avg_bp")
    )
    ph = sc.crossJoin(F.broadcast(m)).select(
        "source",
        "n_toks",
        F.expr(
            f"CASE WHEN ttr_bp >= avg_bp + {CURR_BAND_BP} THEN 1 "
            f"WHEN ttr_bp >= avg_bp - {CURR_BAND_BP} THEN 2 "
            "ELSE 3 END"
        ).alias("phase"),
    )
    agg = ph.groupBy("phase", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("tokens"),
    )
    tot = agg.groupBy("phase").agg(F.sum("tokens").cast("long").alias("ptoks"))
    return (
        agg.join(tot, "phase")
        .select(
            F.col("phase").cast("long").alias("phase"),
            "source",
            "n_docs",
            "tokens",
            F.expr("CAST(tokens * 10000 DIV ptoks AS BIGINT)").alias(
                "phase_share_bp"
            ),
        )
        .orderBy("phase", "source")
    )


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing
# ---------------------------------------------------------------------------

PACK_CTX = 256  # tokens per training sequence


@query(
    "q_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n
  FROM documents WHERE len({_TOKENS_SQL}) > 0
),
c AS (
  SELECT source, n,
         sum(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST((sum(n) + {PACK_CTX} - 1) // {PACK_CTX} AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN (cum - n) // {PACK_CTX}
                       < (cum - 1) // {PACK_CTX} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_split_docs,
       CAST(({PACK_CTX} - sum(n) % {PACK_CTX}) % {PACK_CTX} AS BIGINT) AS tail_pad
FROM c GROUP BY source ORDER BY source
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing at a fixed {CTX}-token context
    length (the GPT-style pretraining packing step): per source,
    documents are concatenated in doc_id order and cut into {CTX}-token
    training sequences. Reports sequences produced, documents split
    across a sequence boundary (the attention-contamination metric
    packing papers optimize), and the final sequence's padding.

    Scale shape: the running total is a window partitioned BY SOURCE
    (thousands of independent partitions — never a global sort); the
    boundary-split test is pure arithmetic on (cum − n, cum − 1); the
    report is a per-source aggregate. Everything after the tokenize is
    integer."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", tokens_col(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0).select(
        "doc_id", "source", F.size("toks").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select("source", "n", F.sum("n").over(w).alias("cum"))
    return (
        c.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.expr(
                f"CAST((sum(n) + {PACK_CTX} - 1) DIV {PACK_CTX} AS BIGINT)"
            ).alias("n_seqs"),
            F.expr(
                f"CAST(sum(CASE WHEN (cum - n) DIV {PACK_CTX}"
                f" < (cum - 1) DIV {PACK_CTX} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_split_docs"),
            F.expr(
                f"CAST(({PACK_CTX} - sum(n) % {PACK_CTX}) % {PACK_CTX} AS BIGINT)"
            ).alias("tail_pad"),
        )
        .orderBy("source")
    )


q_pack_sequences.__doc__ = q_pack_sequences.__doc__.replace("{CTX}", str(PACK_CTX))


# ---------------------------------------------------------------------------
# Token-distribution entropy filter
# ---------------------------------------------------------------------------

# Documents below this entropy (micro-nats) are flagged repetitive:
# ~e^2 ≈ 7.4 effective distinct tokens.
ENT_LOW_MICRO = 2_000_000

# floor(1e6 · c·ln(c) + 0.5) — per-TYPE integer term, summed exactly
# (the q_keyness fencing: round each irrational once, never sum
# doubles across rows).
_ENT_TERM = "CAST(floor(1000000 * (c * ln(CAST(c AS DOUBLE))) + 0.5) AS BIGINT)"
_ENT_LN_N = "CAST(floor(1000000 * ln(CAST(n AS DOUBLE)) + 0.5) AS BIGINT)"


@query(
    "q_entropy_filter",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_TOKENS_SQL}) AS word FROM documents
),
tc AS (
  SELECT doc_id, source, word, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, source, word
),
dh AS (
  SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum({_ENT_TERM}) AS BIGINT) AS sterm
  FROM tc GROUP BY doc_id, source
),
h AS (
  SELECT source, {_ENT_LN_N} - sterm // n AS h_micro FROM dh
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(h_micro) // count(*) AS BIGINT) AS avg_h_micro,
       CAST(min(h_micro) AS BIGINT) AS min_h_micro,
       CAST(max(h_micro) AS BIGINT) AS max_h_micro,
       CAST(sum(CASE WHEN h_micro < {ENT_LOW_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low
FROM h GROUP BY source ORDER BY source
""",
)
def q_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy in micro-nats —
    H = ln n − (Σ c·ln c)/n over the doc's unigram counts — with
    per-source aggregates and a low-entropy (repetitive/boilerplate)
    flag count. The information-theoretic quality screen that sits
    between rule filters (q_quality_gopher) and model scoring
    (q_lm_bigram_logprob) in a curation pipeline.

    Integer discipline: each c·ln c term is micro-floored ONCE per
    (doc, type), summed as BIGINTs, divided by n with DIV (positive ÷
    positive — truncation agrees across engines), and subtracted from
    the micro-floored ln n. No double is ever accumulated.

    Scale shape: explode → (doc, word) count with map-side combine →
    per-doc aggregate → per-source aggregate; shuffles carry counts
    keyed by (doc, word) then doc, both well-distributed. Linear in
    corpus token count."""
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(
            "doc_id", "source", F.explode(tokens_col(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "source", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    dh = tc.groupBy("doc_id", "source").agg(
        F.sum("c").cast("long").alias("n"),
        F.expr(f"CAST(sum({_ENT_TERM}) AS BIGINT)").alias("sterm"),
    )
    h = dh.select("source", F.expr(f"{_ENT_LN_N} - sterm DIV n").alias("h_micro"))
    return (
        h.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("CAST(sum(h_micro) DIV count(*) AS BIGINT)").alias(
                "avg_h_micro"
            ),
            F.min("h_micro").cast("long").alias("min_h_micro"),
            F.max("h_micro").cast("long").alias("max_h_micro"),
            F.expr(
                f"CAST(sum(CASE WHEN h_micro < {ENT_LOW_MICRO} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_low"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction accounting
# ---------------------------------------------------------------------------

# In-plan synthesized contact strings (the corpus fixture has none):
# every doc_id ≡ 0 (mod 7) gains an email, ≡ 0 (mod 11) a phone —
# deterministic, so the oracle reproduces every injected match and the
# redaction byte counts are exact. Patterns use only char classes both
# regex engines (Java util.regex / RE2) treat identically.
_PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PII_PHONE_RE = "555-[0-9]{4}"


def _pii_aug_sql(concat_fn: str, str_ty: str = "VARCHAR", doc_id: str = "doc_id") -> str:
    """text || synthesized PII suffixes, identical in both engines
    modulo the concat spelling and the string type name."""
    email = f"{concat_fn}(' contact u', CAST({doc_id} AS {str_ty}), '@example.com')"
    phone = f"{concat_fn}(' call 555-', lpad(CAST({doc_id} % 10000 AS {str_ty}), 4, '0'))"
    return (
        f"{concat_fn}(text,"
        f" CASE WHEN {doc_id} % 7 = 0 THEN {email} ELSE '' END,"
        f" CASE WHEN {doc_id} % 11 = 0 THEN {phone} ELSE '' END)"
    )


@query(
    "q_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, source, {_pii_aug_sql('concat')} AS t FROM documents
),
det AS (
  SELECT source,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS BIGINT) AS n_phone,
         CAST(length(t) AS BIGINT)
           - CAST(length(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL_RE}', '<EMAIL>', 'g'), '{_PII_PHONE_RE}', '<PHONE>', 'g'))
             AS BIGINT) AS chars_delta
  FROM aug
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_pii,
       CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(chars_delta) AS BIGINT) AS chars_redacted
FROM det GROUP BY source ORDER BY source
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting — the scrubbing pass every
    training-data pipeline runs before release: match email/phone
    patterns, replace with typed placeholders, and report per-source
    match counts and net bytes removed (negative chars_redacted means
    the placeholder is longer than the match — also worth monitoring).

    The corpus fixture contains no PII, so contact strings are
    synthesized IN-PLAN from doc_id (the q_synth_generator /
    q_multimodal_probe discipline): both engines augment identically,
    so every count is closed-form checkable. Patterns stick to char
    classes Java regex and RE2 agree on — no backrefs, no lookaround.

    Scale shape: pure per-row map (regexp_count + regexp_replace are
    JVM-side, whole-stage codegen) followed by one per-source
    aggregate; embarrassingly parallel at any corpus size."""
    d = load(spark, sf_dir, "documents")
    aug = d.select("source", F.expr(_pii_aug_sql("concat", "STRING")).alias("t"))
    det = aug.select(
        "source",
        F.expr(f"CAST(regexp_count(t, '{_PII_EMAIL_RE}') AS BIGINT)").alias(
            "n_email"
        ),
        F.expr(f"CAST(regexp_count(t, '{_PII_PHONE_RE}') AS BIGINT)").alias(
            "n_phone"
        ),
        F.expr(
            "CAST(length(t) AS BIGINT) - CAST(length(regexp_replace("
            f"regexp_replace(t, '{_PII_EMAIL_RE}', '<EMAIL>'),"
            f" '{_PII_PHONE_RE}', '<PHONE>')) AS BIGINT)"
        ).alias("chars_delta"),
    )
    return (
        det.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_docs_pii"),
            F.sum("n_email").cast("long").alias("n_emails"),
            F.sum("n_phone").cast("long").alias("n_phones"),
            F.sum("chars_delta").cast("long").alias("chars_redacted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint on the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "q_changepoint_cusum",
    oracle="""
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
),
c AS (
  SELECT d, rev_c,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST(sum(rev_c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM day
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_c) AS BIGINT) AS s
        FROM day),
dev AS (
  SELECT d, t, cum, n, s, abs(n * cum - t * s) AS dv
  FROM c CROSS JOIN tot WHERE t < n
)
SELECT d AS cp_date,
       CAST(dv AS BIGINT) AS cusum_stat,
       CAST(cum // t AS BIGINT) AS pre_mean_cents,
       CAST((s - cum) // (n - t) AS BIGINT) AS post_mean_cents,
       CAST(t AS BIGINT) AS n_days_pre,
       CAST(n - t AS BIGINT) AS n_days_post
FROM dev ORDER BY dv DESC, d LIMIT 1
""",
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily order-revenue series:
    the split day t maximizing |n·S_t − t·S_n| (the cumulative-sum
    deviation statistic, scaled by n to stay integer — equivalent to
    maximizing |S_t − (t/n)·S_n| without ever forming a fraction).
    Reports the changepoint date, the statistic, and the pre/post mean
    daily revenue — the monitoring primitive behind drift alerts on
    ingestion volumes.

    Integer-exact: revenue in cents, cumulative and total sums BIGINT,
    the deviation a product of BIGINTs (≤ 2^62 at any realistic
    scale), means via DIV. Deterministic tiebreak: earliest date.

    Scale shape: the fact table collapses to the bounded calendar grid
    (one map-side-combined aggregate); the running sum is a window
    over ≤ a-few-thousand day rows — the documented bounded-
    pre-reduced-table exception to the no-single-partition rule (the
    q_stl_decompose / q_ts_anomaly_stl precedent)."""
    o = load(spark, sf_dir, "orders")
    day = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev_c")
    )
    wo = Window.orderBy("d")
    c = day.select(
        "d",
        "rev_c",
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("rev_c")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
    )
    tot = day.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_c").cast("long").alias("s"),
    )
    dev = (
        c.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
        .select(
            "d", "t", "cum", "n", "s",
            F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("s")).alias("dv"),
        )
    )
    return (
        dev.select(
            F.col("d").alias("cp_date"),
            F.col("dv").cast("long").alias("cusum_stat"),
            F.expr("CAST(cum DIV t AS BIGINT)").alias("pre_mean_cents"),
            F.expr("CAST((s - cum) DIV (n - t) AS BIGINT)").alias(
                "post_mean_cents"
            ),
            F.col("t").cast("long").alias("n_days_pre"),
            (F.col("n") - F.col("t")).cast("long").alias("n_days_post"),
        )
        .orderBy(F.desc("cusum_stat"), "cp_date")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the co-purchase projection
# ---------------------------------------------------------------------------

AA_SUP_Q = 0.99  # support quantile gating the projection (CC_SUP_Q lesson)
AA_DEG_Q = 0.99  # degree quantile capping wedge centers
AA_TOP = 20

# floor(1e6 / ln(deg) + 0.5): the per-common-neighbor AA weight as one
# micro-floored term (deg ≥ 2 ⇒ ln ≥ ln 2 > 0).
_AA_W = "CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)"

_AA_ORACLE_CTES = f"""
{_PAIRS_CTE},
{gated_pairs_sql(AA_SUP_Q)},
adj AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
dq AS (SELECT CAST(percentile_disc({AA_DEG_Q}) WITHIN GROUP (ORDER BY d)
              AS BIGINT) AS dcap FROM deg),
ctr AS (
  SELECT n, {_AA_W} AS w FROM deg CROSS JOIN dq WHERE d >= 2 AND d <= dcap
),
wedge AS (
  SELECT a.v AS n1, b.v AS n2, ctr.w
  FROM adj a JOIN ctr ON a.u = ctr.n JOIN adj b ON b.u = ctr.n
  WHERE a.v < b.v
),
aa AS (
  SELECT n1, n2, CAST(sum(w) AS BIGINT) AS aa_micro
  FROM wedge GROUP BY n1, n2
),
nonedge AS (
  SELECT aa.* FROM aa LEFT JOIN e ON aa.n1 = e.pa AND aa.n2 = e.pb
  WHERE e.pa IS NULL
)
"""


@query(
    "q_link_adamic_adar",
    oracle=f"""
WITH {_AA_ORACLE_CTES}
SELECT n1, n2, aa_micro FROM nonedge
ORDER BY aa_micro DESC, n1, n2 LIMIT {AA_TOP}
""",
)
def q_link_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase projection:
    rank NON-adjacent part pairs by Σ_w 1/ln(deg w) over their common
    neighbors w — the classic link-prediction score (Adamic & Adar
    2003), here the \"products likely to be co-bought next\" view.

    Gates follow the round-7/8 graph lessons: the projection keeps
    only pairs above the {SQ} support QUANTILE (a fixed MIN_SUP
    densifies ~340× under duplication — the kcore lesson), and wedge
    centers are capped at the {DQ} degree quantile (a hub's wedge
    fan-out is quadratic in its degree while its AA weight 1/ln(deg)
    is the smallest — standard practice and the scale guard). Both
    quantiles are data-derived order statistics computed identically
    in both engines (percentile_disc).

    Scale shape: wedge enumeration is a self-join of the adjacency on
    the CAPPED center — bounded per-center fan-out; the AA sum
    combines map-side on (n1, n2); existing edges leave via one
    anti-join; the report is a TakeOrderedAndProject. The ln is
    micro-floored once per CENTER (node-sized), never per wedge."""
    e = gated_pairs(spark, sf_dir, AA_SUP_Q)
    adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    dq = deg.selectExpr(
        f"CAST(percentile_disc({AA_DEG_Q}) WITHIN GROUP (ORDER BY d)"
        " AS BIGINT) AS dcap"
    )
    ctr = (
        deg.crossJoin(F.broadcast(dq))
        .filter((F.col("d") >= 2) & (F.col("d") <= F.col("dcap")))
        .select("n", F.expr(_AA_W).alias("w"))
    )
    a1 = adj.alias("a1")
    a2 = adj.alias("a2")
    wedge = (
        a1.join(ctr, F.col("a1.u") == F.col("n"))
        .join(a2, F.col("a2.u") == F.col("n"))
        .filter(F.col("a1.v") < F.col("a2.v"))
        .select(F.col("a1.v").alias("n1"), F.col("a2.v").alias("n2"), "w")
    )
    aa = wedge.groupBy("n1", "n2").agg(F.sum("w").cast("long").alias("aa_micro"))
    nonedge = aa.join(
        e,
        (aa.n1 == e.pa) & (aa.n2 == e.pb),
        "left_anti",
    )
    return nonedge.orderBy(F.desc("aa_micro"), "n1", "n2").limit(AA_TOP)


q_link_adamic_adar.__doc__ = (
    q_link_adamic_adar.__doc__.replace("{SQ}", str(AA_SUP_Q)).replace(
        "{DQ}", str(AA_DEG_Q)
    )
)


# ---------------------------------------------------------------------------
# kNN label propagation (classifier-based curation)
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_SEED_MOD = 5  # vec_id % 5 == 0 → labeled seed (20% of the corpus)


@query(
    "q_knn_classify",
    oracle=f"""
WITH uv AS (
  SELECT vec_id, label, {duck_micro('embedding')} AS uvec
  FROM embeddings
),
seed AS (SELECT * FROM uv WHERE vec_id % {KNN_SEED_MOD} = 0),
qry AS (SELECT * FROM uv WHERE vec_id % {KNN_SEED_MOD} <> 0),
sc AS (
  SELECT q.vec_id, q.label AS true_label, s.label AS seed_label, s.vec_id AS sid,
         {duck_int_sqdist('q.uvec', 's.uvec')} AS d2
  FROM qry q CROSS JOIN seed s
),
nn AS (
  SELECT vec_id, true_label, seed_label
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
        FROM sc)
  WHERE rn <= {KNN_K}
),
vote AS (
  SELECT vec_id, true_label, seed_label AS pred_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY count(*) DESC, seed_label) AS vr
  FROM nn GROUP BY vec_id, true_label, seed_label
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM vote WHERE vr = 1
GROUP BY true_label, pred_label
ORDER BY true_label, pred_label
""",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation from a labeled seed ({P}% of vectors, the
    vec_id % {M} split) to the unlabeled rest — the classifier-based
    curation step of FineWeb-Edu-style pipelines (label a small seed,
    propagate to the corpus, filter on the prediction), evaluated
    against the held-back true labels as an exact confusion matrix.

    Determinism: embeddings become integer micro-unit vectors
    (``micro_expr``) so squared distances are exact BIGINTs; ties
    break on (d2, seed vec_id) for neighbors and (votes DESC, label)
    for the argmax. No float ever crosses an exchange.

    Scale shape: the seed is small by construction — broadcast it; the
    scan over unlabeled vectors is linear, per-vector top-k is a
    window partitioned by vec_id (never global), and the confusion
    matrix is a tiny-grid aggregate. At 100 TB: replace the
    brute-force seed scan with the IVF routing of q_sim_ivf — the
    voting/confusion stages are unchanged."""
    uv = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(micro_expr("embedding")).alias("uvec"),
    )
    seed = uv.filter(F.col("vec_id") % KNN_SEED_MOD == 0).select(
        F.col("vec_id").alias("sid"),
        F.col("label").alias("seed_label"),
        F.col("uvec").alias("svec"),
    )
    qry = uv.filter(F.col("vec_id") % KNN_SEED_MOD != 0)
    sc = qry.crossJoin(F.broadcast(seed)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "seed_label",
        "sid",
        F.expr(int_sqdist_expr("uvec", "svec")).alias("d2"),
    )
    wk = Window.partitionBy("vec_id").orderBy("d2", "sid")
    nn = sc.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= KNN_K
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    vote = (
        nn.groupBy("vec_id", "true_label", F.col("seed_label").alias("pred_label"))
        .agg(F.count("*").alias("votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
    )
    return (
        vote.groupBy(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("pred_label").cast("long").alias("pred_label"),
        )
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


q_knn_classify.__doc__ = (
    q_knn_classify.__doc__.replace("{P}", str(100 // KNN_SEED_MOD)).replace(
        "{M}", str(KNN_SEED_MOD)
    )
)


# ---------------------------------------------------------------------------
# Bigram-LM document scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

# floor(1e6 · ln((c_ab + 1)/(c_a + V)) + 0.5): the add-one-smoothed
# bigram log-probability as ONE micro-floored term per corpus bigram
# TYPE (vocabulary-bound), reused by every document containing it.
_LM_TERM = (
    "CAST(floor(1000000 * ln((CAST(c_ab AS DOUBLE) + 1)"
    " / (CAST(c_a AS DOUBLE) + v)) + 0.5) AS BIGINT)"
)


@query(
    "q_lm_bigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS t FROM documents
  WHERE len({_TOKENS_SQL}) >= 2
),
bg AS (
  SELECT doc_id, source,
         unnest({word_ngrams_sql('t', 2)}) AS b
  FROM toks
),
dbg AS (
  SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS m
  FROM bg GROUP BY doc_id, source, b
),
cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY b),
ca AS (
  SELECT split_part(b, ' ', 1) AS a, CAST(sum(c_ab) AS BIGINT) AS c_a
  FROM cb GROUP BY 1
),
vv AS (
  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
),
term AS (
  SELECT cb.b, {_LM_TERM} AS lp_micro
  FROM cb JOIN ca ON split_part(cb.b, ' ', 1) = ca.a CROSS JOIN vv
),
doc AS (
  SELECT dbg.doc_id, dbg.source,
         CAST((-sum(dbg.m * term.lp_micro)) // sum(dbg.m) AS BIGINT) AS nll_micro
  FROM dbg JOIN term ON dbg.b = term.b
  GROUP BY dbg.doc_id, dbg.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nll_micro) // count(*) AS BIGINT) AS avg_nll_micro,
       CAST(min(nll_micro) AS BIGINT) AS min_nll_micro,
       CAST(max(nll_micro) AS BIGINT) AS max_nll_micro
FROM doc GROUP BY source ORDER BY source
""",
)
def q_lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram negative log-likelihood (micro-nats)
    under the corpus's own add-one-smoothed bigram model — the
    statistical-LM quality screen (CCNet's KenLM perplexity filter,
    reduced to the n=2 model a SQL engine can hold exactly): documents
    whose bigrams are globally rare score high NLL and are curation
    candidates from BOTH ends (gibberish at the top, boilerplate at
    the bottom).

    P(b|a) = (c(a,b)+1) / (c(a)+V) with c(a) = Σ_b c(a,b) (so the
    model normalizes exactly) and V the corpus vocabulary. The ln is
    micro-floored once per bigram TYPE (vocabulary-bound — the
    q_kn_continuation shape), then documents sum m·lp as BIGINTs.

    Scale shape: two vocabulary-bound aggregates build the model; the
    per-doc score is one join of (doc, bigram, m) against the model
    keyed by bigram — linear in corpus bigram instances with map-side
    combine; per-source report is a tiny aggregate. NLL sums are
    negated BEFORE the DIV so the truncation is positive÷positive in
    both engines (the round-8 signed-division lesson)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", tokens_col(F.col("text")).alias("t")
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        "source",
        F.explode(F.expr(word_ngrams("t", 2))).alias("b"),
    )
    dbg = bg.groupBy("doc_id", "source", "b").agg(
        F.count("*").cast("long").alias("m")
    )
    cb = bg.groupBy("b").agg(F.count("*").cast("long").alias("c_ab"))
    ca = cb.groupBy(F.split(F.col("b"), " ").getItem(0).alias("a")).agg(
        F.sum("c_ab").cast("long").alias("c_a")
    )
    vv = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .agg(F.countDistinct("word").cast("long").alias("v"))
    )
    term = (
        cb.join(ca, F.split(F.col("b"), " ").getItem(0) == F.col("a"))
        .crossJoin(F.broadcast(vv))
        .select("b", F.expr(_LM_TERM).alias("lp_micro"))
    )
    doc = (
        dbg.join(term, "b")
        .groupBy("doc_id", "source")
        .agg(
            F.expr(
                "CAST((-sum(m * lp_micro)) DIV sum(m) AS BIGINT)"
            ).alias("nll_micro")
        )
    )
    return (
        doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("CAST(sum(nll_micro) DIV count(*) AS BIGINT)").alias(
                "avg_nll_micro"
            ),
            F.min("nll_micro").cast("long").alias("min_nll_micro"),
            F.max("nll_micro").cast("long").alias("max_nll_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Maximal duplicated-span extraction (span-granularity substring dedup)
# ---------------------------------------------------------------------------


def _span_maximal_oracle() -> str:
    from kafka_to_parquet_spark.functions.hashes import duck_h62
    from kafka_to_parquet_spark.llm.dedup import SUBSTR_W

    wh = duck_h62(f"array_to_string(t[i:i+{SUBSTR_W - 1}], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
win AS MATERIALIZED (
  SELECT doc_id, i, {wh} AS wh
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {SUBSTR_W} + 2)) AS i
        FROM toks WHERE len(t) >= {SUBSTR_W})
),
dup AS (SELECT wh FROM win GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
hit AS (SELECT DISTINCT doc_id, i FROM win JOIN dup USING (wh)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                <= {SUBSTR_W} THEN 0 ELSE 1 END AS brk
  FROM hit
),
grp AS (
  SELECT doc_id, i,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
),
span AS (
  SELECT doc_id, g, CAST(min(i) AS BIGINT) AS s,
         CAST(max(i) + {SUBSTR_W} - 1 AS BIGINT) AS e
  FROM grp GROUP BY doc_id, g
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
         CAST(max(e - s + 1) AS BIGINT) AS longest_len
  FROM span GROUP BY doc_id
)
SELECT agg.doc_id, agg.n_spans, agg.covered_tokens, agg.longest_len,
       CAST(min(span.s) AS BIGINT) AS longest_start
FROM agg JOIN span ON agg.doc_id = span.doc_id
                  AND span.e - span.s + 1 = agg.longest_len
GROUP BY agg.doc_id, agg.n_spans, agg.covered_tokens, agg.longest_len
"""


@query("q_dedup_span_maximal", oracle=_span_maximal_oracle())
def q_dedup_span_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granularity substring dedup: merge overlapping cross-doc-
    duplicated windows into MAXIMAL duplicated spans (the island/gap
    merge) and report, per affected document, the span count, total
    covered tokens, and the longest span's length and start offset —
    the variable-length span view that q_dedup_substring (per-window
    profile) and q_dedup_span_strip (removal) bracket but don't emit.
    This is the per-span signal of Lee et al. 2022's suffix-array
    dedup in the distributed window-fingerprint formulation; the
    genuinely-suffix-ranked counterpart is q_suffix_lrs below.

    Island rule: duplicated window starts i1 < i2 merge when
    i2 − i1 ≤ W (their covered ranges [i, i+W−1] overlap or touch), so
    a span is a maximal run of overlapping duplicated windows.

    Scale shape: shares llm/dedup's cached window-hash relation (hash
    longs, never window strings, across exchanges); the island merge
    is a lag + running-sum window PARTITIONED BY DOC (degree-bounded
    partitions, never global); span and report aggregates key on
    (doc, island) then doc. Linear in corpus token count."""
    from kafka_to_parquet_spark.llm.dedup import (
        SUBSTR_W,
        _dup_window_hashes,
        _window_hashes,
    )

    win = _window_hashes(spark, sf_dir)
    dup = _dup_window_hashes(win)
    hit = win.join(dup, "wh").select("doc_id", "i").distinct()
    wd = Window.partitionBy("doc_id").orderBy("i")
    isl = hit.select(
        "doc_id",
        "i",
        F.when(
            F.col("i") - F.lag("i").over(wd) <= SUBSTR_W, F.lit(0)
        ).otherwise(F.lit(1)).alias("brk"),
    )
    grp = isl.select(
        "doc_id",
        "i",
        F.sum("brk")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("g"),
    )
    span = grp.groupBy("doc_id", "g").agg(
        F.min("i").cast("long").alias("s"),
        (F.max("i") + SUBSTR_W - 1).cast("long").alias("e"),
    )
    agg = span.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("covered_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("longest_len"),
    )
    sp = span.select(
        F.col("doc_id").alias("sp_doc"), F.col("s").alias("sp_s"),
        (F.col("e") - F.col("s") + 1).alias("sp_len"),
    )
    return (
        agg.join(
            sp,
            (F.col("doc_id") == F.col("sp_doc"))
            & (F.col("sp_len") == F.col("longest_len")),
        )
        .groupBy("doc_id", "n_spans", "covered_tokens", "longest_len")
        .agg(F.min("sp_s").cast("long").alias("longest_start"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_spans", "covered_tokens", "longest_len", "longest_start",
        )
    )


# ---------------------------------------------------------------------------
# Longest repeated substring via distributed prefix doubling
# ---------------------------------------------------------------------------

# Position packing stride: doc_id * SFX_PACK + p must be injective, so
# every document must hold fewer than SFX_PACK tokens (the fixture max
# is ~120; the guard below raises loudly rather than mislabel).
SFX_PACK = 2048
# Batched-probe fan-out ceiling (rows = dup positions × bracket
# width): under it, ONE job answers every candidate length at once;
# over it (long documents and/or a fat dup slice at scale), fall back
# to O(log bracket) binary-search probes on the dup slice.
SFX_BATCH_CAP = 50_000_000
# Direct-seed level: the sparse table starts at the 2^SFX_START-gram
# classes built straight off the token arrays (see the in-function
# comment). 3 → 8-token grams: the seed shuffles ≤ 8 tokens of text
# per position once, instead of 3 doubling rounds × ~3 corpus-wide
# shuffles each.
SFX_START = 3


def _suffix_lrs_oracle() -> str:
    """Brute-force mirror: every (position, length) substring instance
    grouped — O(Σ L²) rows, fine at the driver's sf0.01 oracle scale
    (~1M instances); the Spark side is the scalable algorithm."""
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE len({_TOKENS_SQL}) > 0
),
pos AS (
  SELECT doc_id, t, unnest(range(1, CAST(len(t) AS INTEGER) + 1)) AS i FROM toks
),
pl AS (
  SELECT doc_id, t, i,
         unnest(range(1, CAST(len(t) AS INTEGER) - i + 2)) AS l
  FROM pos
),
grams AS (SELECT l, array_to_string(t[i:i+l-1], ' ') AS g FROM pl),
dup AS (
  SELECT l, g, CAST(count(*) AS BIGINT) AS n_occ
  FROM grams GROUP BY l, g HAVING count(*) >= 2
),
mx AS (SELECT max(l) AS lrs FROM dup)
SELECT CAST(d.l AS BIGINT) AS lrs_len, d.g AS phrase, d.n_occ
FROM dup d JOIN mx ON d.l = mx.lrs
ORDER BY phrase
"""


@query("q_suffix_lrs", oracle=_suffix_lrs_oracle())
def q_suffix_lrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest repeated token sequence in the corpus (every sequence
    achieving the maximum, with its occurrence count) — the
    suffix-array signal of Lee et al. 2022's exact-substring dedup at
    its strongest point, computed by DISTRIBUTED PREFIX DOUBLING
    (Manber-Myers over DataFrame ops) rather than an in-memory suffix
    array (which does not distribute):

    1. Level k assigns every in-doc position an EQUALITY CLASS id for
       its 2^k-token gram — built from level k−1 by pairing each
       position's class with the class 2^(k−1) ahead (one equi-join on
       (doc, p+off)) and taking min(packed position) per class pair
       (one aggregate + join-back). No rank ORDER is ever needed, so
       there is NO global sort/window anywhere — the classic
       distributed-SA bottleneck is simply absent.
    2. exists(ℓ): an ℓ-gram repeats iff some (class_k[p],
       class_k[p+ℓ−2^k]) pair (k = ⌊log2 ℓ⌋ — the overlapping-gram
       O(1) comparison trick, EXACT, no hashing) occurs ≥ 2 times: one
       equi-join + one aggregate.
    3. Binary search the maximal ℓ (repeatability is monotone in ℓ):
       O(log maxlen) probes, each a scalar collect (the
       llm/components.py convergence-check precedent).

    Round-11 cost cuts (verdict item 5 — 6.5 s → ≤3.5 s at sf0.1),
    all exact:
    - Every level is stored FILTERED to its duplicated-class
      positions (cnt >= 2, with cnt free out of the same groupBy that
      canonicalizes the class). Lossless for every consumer: a
      repeated ℓ-gram's level-k halves each repeat by definition, so
      the next doubling round (both join sides), every length probe,
      and the extraction only ever need dup positions — and a
      surviving (f1, f2) group's membership, count, and min-rep are
      exactly preserved. Real corpora collapse geometrically per
      level, so the sparse table shrinks instead of staying
      corpus-sized × log L.
    - Doubling STOPS at the first duplication-free level — every
      higher level is provably useless since no 2^k-gram repeats —
      which brackets the answer into [2^k_dup, 2^(k_dup+1)-1]
      instead of [1, maxlen].
    - Within the bracket, ONE batched job replaces the per-length
      probes (each dup position explodes into its candidate
      back-offsets; max repeating offset = the LRS by monotonicity)
      whenever dup-slice × bracket-width fits SFX_BATCH_CAP;
      otherwise binary search, each probe on the dup slice only.
    - The table is SEEDED at level SFX_START by a direct gram build
      (explode each doc's 2^k_start-grams, canonicalize the gram
      string — exact), so levels 0..k_start−1 are never built at all;
      one bounded-width explode+agg replaces the k_start most
      expensive (corpus-widest) doubling rounds.

    Only the LATEST level stays checkpointed (every later consumer —
    the next doubling round, the bracket probes, the extraction —
    reads k_dup alone), so the loop holds TWO dup-slice relations of
    storage, not ⌈log2 LRS⌉ (the sf≈100 stress found the full
    sparse-table retention holding ~90 GB on a fully-duplicated
    corpus); the final level is released with the other caches once
    the result plan is consumed.

    100 TB shape: O(log LRS) levels × (join + agg) with all exchanges
    hash-partitioned on (doc, p) or class pairs — at worst
    positions-sized, geometrically shrinking in practice, no
    SinglePartition anywhere; the driver round trips are one count
    per level plus ONE batched probe (or ~log bracket probes past
    the cap). The oracle is the O(Σ L²) brute force — tractable at
    oracle scale, and the point: the Spark plan is the one that
    survives 100×."""
    d = load(spark, sf_dir, "documents")
    # Parked (not just persisted): every return path's plan reads toks
    # (the extraction join slices phrases from it), so it cannot be
    # unpersisted here — the boundary eviction in cache.py releases it
    # between timed samples / at teardown instead of leaking a
    # corpus-sized relation per invocation in a long-lived session.
    toks = park(
        d.select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.size("t") > 0)
        .persist(),
        spark,
        sf_dir,
    )
    maxlen_row = toks.agg(F.max(F.size("t"))).collect()
    maxlen = maxlen_row[0][0] or 0
    empty = spark.createDataFrame(
        [], "lrs_len long, phrase string, n_occ long"
    )
    if maxlen == 0:
        toks.unpersist()
        return empty
    if maxlen >= SFX_PACK:
        toks.unpersist()
        raise ValueError(
            f"q_suffix_lrs: document holds {maxlen} tokens >= SFX_PACK="
            f"{SFX_PACK}; raise the packing stride"
        )
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    pack = f"doc_id * {SFX_PACK} + p"
    # Levels are localCheckpoint-ed, NOT persisted: each level's
    # logical plan references the previous level ~4× (pair join + the
    # class aggregate + join-back), and persist() only caches
    # EXECUTION — the analyzed tree still grows 4^k nodes and Catalyst
    # optimization time explodes (measured: level 5 took 100 s of pure
    # planner time at sf0.001). The eager checkpoint makes each level
    # a leaf, so every level plans in O(1). (llm/components.py's
    # pointer-jumping made the same call for the same reason.)
    # Every level is stored FILTERED to its duplicated-class positions
    # (cnt >= 2): every consumer — the next doubling round, the length
    # probes, the extraction — provably only reads dup positions (see
    # docstring), and real corpora collapse geometrically per level,
    # so the sparse table shrinks instead of staying corpus-sized ×
    # log L. n_dup per level (a cached-block count) doubles as the
    # early-stop signal and the probe-batching size estimate.
    # The table is SEEDED by a direct gram build at k_start =
    # min(SFX_START, ⌊log2 maxlen⌋): the 2^k_start-gram equality
    # classes come straight off the token arrays (explode each doc's
    # grams, canonicalize by min-pack over the gram STRING — exact,
    # space-joining is injective on whitespace-free tokens), so
    # levels 0..k_start-1 are never built. Cheaper at every scale:
    # one explode+agg+join-back shuffling ≤ 2^k_start·token bytes per
    # position replaces k_start doubling rounds of ~3 corpus-wide
    # shuffles + checkpoint each. If the seed level has no duplicated
    # class, LRS < 2^k_start and the seed retries one level down
    # (each retry is the same single cheap build); k_start == 0 means
    # only the 1-token corner remains. Doubling then continues only
    # while the latest level still HAS duplicated classes: a
    # duplication-free level k proves LRS < 2^k and caps both the
    # sparse table and the search bracket.
    levels: dict[int, DataFrame] = {}
    n_dup: dict[int, int] = {}
    k_max = maxlen.bit_length() - 1  # ⌊log2 maxlen⌋
    k_seed = min(SFX_START, k_max)
    k_start = k_seed
    while k_start >= 1:
        glen = 1 << k_start
        grams = toks.filter(F.size("t") >= glen).select(
            "doc_id",
            F.posexplode(F.expr(word_ngrams("t", glen))).alias("p0", "g"),
        ).select("doc_id", (F.col("p0") + 1).alias("p"), "g")
        grp = grams.groupBy("g").agg(
            F.expr(f"min({pack})").alias("rep"),
            F.count("*").alias("cnt"),
        )
        seed = (
            grams.join(grp.filter(F.col("cnt") >= 2), "g")
            .select("doc_id", "p", F.col("rep").alias("rk"), "cnt")
            .localCheckpoint(eager=True)
        )
        n = seed.count()
        if n > 0:
            levels[k_start] = seed
            n_dup[k_start] = n
            break
        k_start -= 1

    if not levels:
        # No bigram repeats anywhere (or maxlen == 1): LRS is 1 if any
        # token repeats, else the report is empty — one aggregate over
        # `pos` answers both, through the shared extraction tail.
        best = 1
        groups = (
            pos.groupBy("tok")
            .agg(
                F.count("*").cast("long").alias("n_occ"),
                F.expr(f"min({pack})").alias("rep"),
            )
            .filter(F.col("n_occ") >= 2)
            .select(
                F.expr(f"rep DIV {SFX_PACK}").alias("rep_doc"),
                (F.col("rep") % SFX_PACK).alias("rep_p"),
                "n_occ",
            )
        )
        return _sfx_extract(groups, toks, best)

    # A seed that had to retry below k_seed already proved the level
    # above it duplication-free — doubling upward would rebuild that
    # empty level, so it only runs off a first-try seed.
    for k in range(k_start + 1, (k_max + 1) if k_start == k_seed else 0):
        off = 1 << (k - 1)
        prev = levels[k - 1]
        a = prev.select("doc_id", "p", "rk")
        b = prev.select(
            "doc_id", (F.col("p") - off).alias("p"), F.col("rk").alias("rk2")
        )
        pairs = a.join(b, ["doc_id", "p"])
        grp = pairs.groupBy("rk", "rk2").agg(
            F.expr(f"min({pack})").alias("rep"),
            F.count("*").alias("cnt"),
        )
        lev = (
            pairs.join(grp.filter(F.col("cnt") >= 2), ["rk", "rk2"])
            .select("doc_id", "p", F.col("rep").alias("rk"), "cnt")
            .localCheckpoint(eager=True)
        )
        n = lev.count()
        if n == 0:
            break
        levels[k] = lev
        n_dup[k] = n
        # Only the LATEST level is ever read again (the next doubling
        # round, every bracket probe, and the extraction all use
        # k_dup = max(levels)) — drop the predecessor's reference so
        # the ContextCleaner reclaims its checkpoint blocks and the
        # loop holds TWO levels of storage, not ⌈log2 LRS⌉. Found at
        # the sf≈100 stress: a fully-duplicated corpus keeps every
        # level corpus-sized, and retaining all of them held ~90 GB
        # of checkpoints at 460M positions (round-11 SCALING note).
        if k - 1 in levels:
            del levels[k - 1]
            gc.collect()  # py4j refs drop -> JVM ContextCleaner runs
    k_dup = max(levels)

    def fingerprints(length: int) -> DataFrame:
        """(doc, p, f1, f2) for every position opening an ℓ-gram whose
        halves both sit in duplicated classes (lossless — see
        docstring; the stored levels are already the dup slice)."""
        k = length.bit_length() - 1
        off2 = length - (1 << k)
        lv = levels[k]
        if off2 == 0:
            return lv.select(
                "doc_id", "p", F.col("rk").alias("f1"), F.col("rk").alias("f2")
            )
        b2 = lv.select(
            "doc_id", (F.col("p") - off2).alias("p"), F.col("rk").alias("f2")
        )
        return lv.join(b2, ["doc_id", "p"]).select(
            "doc_id", "p", F.col("rk").alias("f1"), "f2"
        )

    def exists_dup(length: int) -> bool:
        fp = fingerprints(length)
        hits = (
            fp.groupBy("f1", "f2")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .limit(1)
            .count()
        )
        return hits > 0

    # LRS ∈ [2^k_dup, hi]: a duplicated level-k_dup class IS a
    # repeated 2^k-gram, and level k_dup+1 being empty (or past
    # maxlen) bounds it above.
    best = 1 << k_dup
    lo = best + 1
    hi = min(maxlen, (1 << (k_dup + 1)) - 1)
    m = hi - lo + 1  # candidate lengths in the bracket
    if m > 0 and n_dup[k_dup] * m <= SFX_BATCH_CAP:
        # Batched probe (round-10 verdict item 5): ONE job evaluates
        # every candidate ℓ — explode each dup position into its
        # (ℓ − 2^k_dup) back-offsets, join once on (doc, p), and take
        # the max offset whose (off2, f1, f2) pair repeats.
        # Monotonicity makes that max THE LRS within the bracket.
        lv = levels[k_dup]
        b_all = lv.select(
            "doc_id", "p", F.col("rk").alias("f2")
        ).select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, {hi - lo + 1})")).alias("off2"),
            (F.col("p") - F.col("off2")).alias("p"),
            "f2",
        )
        probe = (
            lv.select("doc_id", "p", F.col("rk").alias("f1"))
            .join(b_all, ["doc_id", "p"])
            .groupBy("off2", "f1", "f2")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .agg(F.max("off2").alias("mo"))
            .collect()
        )
        max_off = probe[0]["mo"]
        if max_off is not None:
            best = (1 << k_dup) + max_off
    else:
        # Scale fallback: the batched fan-out (dup positions × bracket
        # width) would exceed the cap, so binary-search the bracket —
        # O(log bracket) probes, each on the dup slice only.
        while lo <= hi:
            mid = (lo + hi) // 2
            if exists_dup(mid):
                best = mid
                lo = mid + 1
            else:
                hi = mid - 1
    # best >= 2 by construction here: levels nonempty means some
    # bigram repeats (the LRS-1 corner returned above).
    k_best = best.bit_length() - 1
    # Release every level except the one the extraction plan reads —
    # the references drop and the ContextCleaner reclaims the blocks.
    levels = {k_best: levels[k_best]}
    fp = fingerprints(best)
    groups = (
        fp.groupBy("f1", "f2")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.expr(f"min({pack})").alias("rep"),
        )
        .filter(F.col("n_occ") >= 2)
        .select(
            F.expr(f"rep DIV {SFX_PACK}").alias("rep_doc"),
            (F.col("rep") % SFX_PACK).alias("rep_p"),
            "n_occ",
        )
    )
    return _sfx_extract(groups, toks, best)


def _sfx_extract(groups: DataFrame, toks: DataFrame, best: int) -> DataFrame:
    """Shared extraction tail: map each surviving group's min-pack
    representative back to its document and slice the phrase out."""
    return (
        groups.join(toks, groups.rep_doc == toks.doc_id)
        .select(
            F.lit(best).cast("long").alias("lrs_len"),
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("rep_p").cast("int"), best)
            ).alias("phrase"),
            "n_occ",
        )
        .orderBy("phrase")
    )


# ---------------------------------------------------------------------------
# Grid-density DBSCAN over the embedding projection
# ---------------------------------------------------------------------------

DB_CELL = 50_000    # grid pitch in micro-units (0.05 in embedding space)
DB_MINPTS = 4       # core-cell threshold
DB_OFF = 1 << 10    # cell-coordinate offset for positive packing
DB_SPAN = 1 << 12   # packing stride: id = (cx+OFF)*SPAN + (cy+OFF)

# Exact floor division for signed integers (both engines' integer
# division truncates toward zero; the pmod rewrite makes the numerator
# an exact multiple, where truncation == floor).
def _fdiv(u: str, c: int, div: str) -> str:
    return f"((({u}) - ((({u}) % {c}) + {c}) % {c}) {div} {c})"


def _db_micro(dim: int, elem_fn: str) -> str:
    return (
        f"CAST(floor(CAST({elem_fn}(embedding, {dim}) AS DOUBLE) * 1000000"
        " + 0.5) AS BIGINT)"
    )


def _dbscan_oracle() -> str:
    u1 = _db_micro(1, "list_element")
    u2 = _db_micro(2, "list_element")
    fx = _fdiv("u1", DB_CELL, "//")
    fy = _fdiv("u2", DB_CELL, "//")
    return f"""
WITH RECURSIVE
u AS (SELECT {u1} AS u1, {u2} AS u2 FROM embeddings),
cell AS (
  SELECT {fx} AS cx, {fy} AS cy, CAST(count(*) AS BIGINT) AS n
  FROM u GROUP BY 1, 2
),
core AS (
  SELECT cx, cy, n, (cx + {DB_OFF}) * {DB_SPAN} + (cy + {DB_OFF}) AS id
  FROM cell WHERE n >= {DB_MINPTS}
),
adj AS (
  SELECT a.id AS e_u, b.id AS e_v FROM core a JOIN core b
  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach(c, m) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.c, a.e_v FROM reach r JOIN adj a ON r.m = a.e_u
),
lab AS (SELECT c AS id, min(m) AS cluster FROM reach GROUP BY c),
ccore AS (
  SELECT lab.cluster, CAST(count(*) AS BIGINT) AS n_core_cells,
         CAST(sum(core.n) AS BIGINT) AS n_core_points
  FROM core JOIN lab USING (id) GROUP BY lab.cluster
),
bord0 AS (
  SELECT cell.cx, cell.cy, cell.n, min(lab.cluster) AS cluster
  FROM cell
  JOIN core nb ON abs(cell.cx - nb.cx) <= 1 AND abs(cell.cy - nb.cy) <= 1
  JOIN lab ON nb.id = lab.id
  WHERE cell.n < {DB_MINPTS}
  GROUP BY cell.cx, cell.cy, cell.n
),
bord AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_border_points
         FROM bord0 GROUP BY cluster),
noise AS (
  SELECT CAST(coalesce(sum(c2.n), 0) AS BIGINT) AS np FROM cell c2
  WHERE c2.n < {DB_MINPTS} AND NOT EXISTS (
    SELECT 1 FROM core nb
    WHERE abs(c2.cx - nb.cx) <= 1 AND abs(c2.cy - nb.cy) <= 1)
)
SELECT CAST(ccore.cluster AS BIGINT) AS cluster_id, n_core_cells,
       n_core_points, CAST(coalesce(bord.n_border_points, 0) AS BIGINT)
         AS n_border_points
FROM ccore LEFT JOIN bord ON ccore.cluster = bord.cluster
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), np FROM noise
ORDER BY cluster_id
"""


@query("q_cluster_dbscan_grid", oracle=_dbscan_oracle())
def q_cluster_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density DBSCAN over the first two embedding dimensions —
    the density-based twin of q_kmeans3 (finds clusters k-means can't:
    arbitrary shape, explicit noise): cells of pitch {C} micro-units
    with ≥ {M} points are CORE; clusters are connected components of
    8-adjacent core cells; points in non-core cells 8-adjacent to a
    core cell are BORDER members of the lexicographically smallest
    adjacent cluster; everything else is noise (the cluster_id = −1
    row). This is the GriDBSCAN/cell-based formulation — the one that
    distributes, because density is estimated per CELL (one aggregate)
    instead of per-point ε-neighborhood (a quadratic range join).

    Determinism: micro-unit coordinates, exact signed floor-division
    cell assignment (pmod rewrite — both engines' integer division
    truncates), min-packed-cell cluster ids, min-label convergence.

    Scale shape: points collapse to the occupied-cell relation in ONE
    map-side-combined aggregate (the only pass over the data); the CC
    iteration (min-label + pointer-jump, parked checkpoints)
    runs over CELLS — bounded by the grid extent, not the corpus.
    Border/noise assignment is a 9-offset broadcast equi-join, never a
    theta join."""
    # cell/core/adj are FEATURE-level per (session, dataset): the grid
    # histogram and core adjacency derive from the embeddings table
    # alone and every sample re-reads them (before round 15 this
    # happened implicitly — the raw per-invocation .persist() calls
    # hit the CacheManager's identical-plan match, logging "Asked to
    # cache already cached data" WARNs with NO owner able to evict
    # them). The memo entry keeps the same warm-sample timing
    # semantics (build lands in the bench's fbt, like every feature
    # table) with an explicit lifecycle: clear_caches frees all three
    # at teardown/dataset switches.
    # 9-row local relation, broadcast wherever used — needed by the
    # border/noise joins below whether or not the grid entry is warm.
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], ["dx", "dy"]
    )

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        e = load(spark, sf_dir, "embeddings")
        u = e.select(
            F.expr(_db_micro(1, "element_at")).alias("u1"),
            F.expr(_db_micro(2, "element_at")).alias("u2"),
        )
        fx = _fdiv("u1", DB_CELL, "DIV")
        fy = _fdiv("u2", DB_CELL, "DIV")
        cell_b = (
            u.select(F.expr(fx).alias("cx"), F.expr(fy).alias("cy"))
            .groupBy("cx", "cy")
            .agg(F.count("*").cast("long").alias("n"))
            .persist()
        )
        core_b = cell_b.filter(F.col("n") >= DB_MINPTS).select(
            "cx", "cy", "n",
            F.expr(f"(cx + {DB_OFF}) * {DB_SPAN} + (cy + {DB_OFF})").alias("id"),
        ).persist()
        nbr = core_b.crossJoin(F.broadcast(offs)).select(
            F.col("id").alias("e_u"),
            (F.col("cx") + F.col("dx")).alias("nx"),
            (F.col("cy") + F.col("dy")).alias("ny"),
        )
        core_k = core_b.select(
            F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("id").alias("e_v")
        )
        adj_b = nbr.join(core_k, ["nx", "ny"]).select("e_u", "e_v").persist()
        return cell_b, core_b, adj_b

    cell, core, adj = memo(spark, sf_dir, "dbscan_grid", build)
    # localCheckpoint, not persist, as the round boundary: each round
    # references `labels` TWICE (hop join + pointer jump), so a
    # persisted-but-still-chained logical plan doubles per round and
    # Catalyst planning time explodes (measured: round 4 took 7.6 s of
    # planner time on a 49-row relation). The checkpoint makes each
    # round a leaf; the convergence collect right below is the
    # materializing action, so each round schedules ONE job — the
    # llm/components.py pointer-jumping pattern exactly. Superseded
    # rounds PARK in the cache store (round 15, per the r14
    # verdict): before, their checkpoint blocks waited for JVM GC +
    # ContextCleaner, which in a storage-busy session let rounds
    # linger and samples drift 2.8-5.6 s on unchanged code; parked
    # frames are now released deterministically by the next cache
    # boundary (cache.py's LogicalRDD unpersist).
    labels = (
        core.select(F.col("id").alias("node"), F.col("id").alias("lab"))
        .localCheckpoint()
    )
    prev_sum = None
    converged = False
    for _ in range(64):
        hop = (
            adj.join(labels, adj.e_u == labels.node)
            .groupBy(F.col("e_v").alias("node2"))
            .agg(F.min("lab").alias("lab"))
            .select(F.col("node2").alias("node"), "lab")
        )
        jump = labels.select(
            F.col("node").alias("lab"), F.col("lab").alias("lab2")
        )
        new_labels = (
            hop.join(jump, "lab", "left")
            .select("node", F.coalesce("lab2", "lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
        cur = new_labels.agg(F.sum("lab")).collect()[0][0]
        park(labels, spark, sf_dir)  # superseded round
        labels = new_labels
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        raise RuntimeError("q_cluster_dbscan_grid: CC did not converge")
    # The returned plan reads the final round — park it for the next
    # cache boundary.
    park(labels, spark, sf_dir)
    lab = labels.select(F.col("node").alias("id"), F.col("lab").alias("cluster"))
    ccore = (
        core.join(lab, "id")
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_core_cells"),
            F.sum("n").cast("long").alias("n_core_points"),
        )
    )
    noncore = cell.filter(F.col("n") < DB_MINPTS)
    nc_nbr = noncore.crossJoin(F.broadcast(offs)).select(
        "cx", "cy", "n",
        (F.col("cx") + F.col("dx")).alias("nx"),
        (F.col("cy") + F.col("dy")).alias("ny"),
    )
    lab_k = core.join(lab, "id").select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), "cluster"
    )
    bord0 = (
        nc_nbr.join(lab_k, ["nx", "ny"])
        .groupBy("cx", "cy", "n")
        .agg(F.min("cluster").alias("cluster"))
    )
    bord = bord0.groupBy("cluster").agg(
        F.sum("n").cast("long").alias("n_border_points")
    )
    clusters = (
        ccore.join(bord, "cluster", "left")
        .select(
            F.col("cluster").cast("long").alias("cluster_id"),
            "n_core_cells",
            "n_core_points",
            F.coalesce("n_border_points", F.lit(0)).cast("long").alias(
                "n_border_points"
            ),
        )
    )
    covered = nc_nbr.join(lab_k, ["nx", "ny"]).select("cx", "cy").distinct()
    noise = (
        noncore.join(covered, ["cx", "cy"], "left_anti")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("np"))
        .select(
            F.lit(-1).cast("long").alias("cluster_id"),
            F.lit(0).cast("long").alias("n_core_cells"),
            F.lit(0).cast("long").alias("n_core_points"),
            F.col("np").alias("n_border_points"),
        )
    )
    return clusters.unionByName(noise).orderBy("cluster_id")


q_cluster_dbscan_grid.__doc__ = (
    q_cluster_dbscan_grid.__doc__
    .replace("{C}", str(DB_CELL))
    .replace("{M}", str(DB_MINPTS))
)


# ---------------------------------------------------------------------------
# Streaming incremental MinHash — stream-static LSH band join
# ---------------------------------------------------------------------------

def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_to_parquet_spark.streaming.stateful import stream_source_dir

    return spark.readStream.schema(schema(spark, sf_dir, "documents")).parquet(
        stream_source_dir(spark, sf_dir, "documents")
    )


def _stream_minhash_oracle() -> str:
    from kafka_to_parquet_spark.llm.minhash import _minhash_incr_oracle

    # The streamed result must equal the batch incremental join — the
    # q_stream_dedup oracle discipline (a dropped or duplicated pair
    # fails the hash).
    return _minhash_incr_oracle()


@query("q_stream_minhash_incr", oracle=_stream_minhash_oracle())
def q_stream_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dup detection — the readStream twin
    of q_dedup_minhash_incr: a new crawl delivery arrives as a file
    stream, each document's MinHash signature and band keys are
    computed PER ROW inside the stream by the same
    llm/minhash.minhash_bands the batch path uses (array_min over the
    shingle hashes — no stateful aggregate needed, because a
    document's shingles never span rows), candidates come from a
    STREAM-STATIC equi-join against the persisted corpus band index
    (llm/minhash.kept_bands — the LSH index a production corpus keeps
    between deliveries), pairs are
    de-duplicated with streaming dropDuplicates, and each candidate is
    verified with exact shingle Jaccard against the static shingle
    table. availableNow trigger → memory sink (run_to_memory).

    Identity with the batch answer (and hence the shared oracle): the
    hot-bucket cap drops a band bucket's rows on BOTH sides in the
    batch formulation; here only the static side is capped, but a
    candidate needs a kept CORPUS row in the same bucket, so pairs in
    over-cap buckets vanish identically.

    100 TB shape: the per-delivery stream carries 8 band longs + the
    shingle array per doc; the corpus side is the capped, persisted
    band index (narrow rows, terabytes instead of the corpus's
    hundreds); the join is stream-static hash — no shuffle of the
    static side per micro-batch beyond the broadcast/probe Spark
    plans. State = one key per emitted pair (the dedup), bounded by
    the delivery's candidate count."""
    from kafka_to_parquet_spark.functions.rounding import floor_round
    from kafka_to_parquet_spark.llm.dedup import INCR_MOD, INCR_REM, shingled_documents
    from kafka_to_parquet_spark.llm.minhash import kept_bands, minhash_bands
    from kafka_to_parquet_spark.streaming.stateful import run_to_memory

    sdf = (
        _stream_docs(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_MOD == INCR_REM)
        .select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .withColumn("sh", F.expr(f"array_distinct({word_ngrams('toks', 3)})"))
    )
    xb = minhash_bands(sdf, "sh").withColumnRenamed("doc_id", "batch_doc")
    corpus = (
        kept_bands(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_MOD != INCR_REM)
        .select(F.col("doc_id").alias("corpus_doc"), "b", "k")
    )
    cand = (
        xb.join(corpus, ["b", "k"])
        .select("batch_doc", "corpus_doc", "sh")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    shb = shingled_documents(spark, sf_dir).select(
        F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("shb")
    )
    inter = F.expr("CAST(size(array_intersect(sh, shb)) AS DOUBLE)")
    union = F.expr("size(sh) + size(shb) - size(array_intersect(sh, shb))")
    out = cand.join(shb, "corpus_doc").select(
        "batch_doc", "corpus_doc", floor_round(inter / union, 6).alias("jaccard")
    )
    return run_to_memory(out, "append")


# ---------------------------------------------------------------------------
# Group C (round-10 session 2): coreset selection, budgeted curation,
# batching-efficiency audit, cross-source contamination matrix.
# ---------------------------------------------------------------------------

CORESET_K = 4


def _coreset_oracle() -> str:
    """K unrolled Gonzalez rounds: seed = min vec_id; each next center
    is the min-vec_id among the points at maximal min-distance to the
    chosen set; radius_sq after each pick."""
    uv = f"SELECT vec_id, {duck_micro('embedding')} AS uvec FROM embeddings"
    parts = [f"WITH uv AS ({uv}),",
             "c1 AS (SELECT vec_id AS cid, uvec AS carr FROM uv"
             " WHERE vec_id = (SELECT min(vec_id) FROM uv)),",
             f"d1 AS (SELECT uv.vec_id, uv.uvec,"
             f" {duck_int_sqdist('uv.uvec', 'c1.carr')} AS dmin"
             " FROM uv CROSS JOIN c1),"]
    for k in range(2, CORESET_K + 1):
        p, c = k - 1, k
        parts += [
            f"c{c} AS (SELECT min(vec_id) AS cid FROM d{p}"
            f" WHERE dmin = (SELECT max(dmin) FROM d{p})),",
            f"cc{c} AS (SELECT c{c}.cid, uv.uvec AS carr FROM c{c}"
            f" JOIN uv ON uv.vec_id = c{c}.cid),",
            f"d{c} AS (SELECT d{p}.vec_id, d{p}.uvec,"
            f" least(d{p}.dmin, {duck_int_sqdist(f'd{p}.uvec', f'cc{c}.carr')}) AS dmin"
            f" FROM d{p} CROSS JOIN cc{c}),",
        ]
    steps = ["SELECT 1 AS step, (SELECT cid FROM c1) AS center_id,"
             " (SELECT max(dmin) FROM d1) AS radius_sq"]
    for k in range(2, CORESET_K + 1):
        steps.append(
            f"SELECT {k} AS step, (SELECT cid FROM c{k}) AS center_id,"
            f" (SELECT max(dmin) FROM d{k}) AS radius_sq")
    body = "\nUNION ALL\n".join(steps)
    return ("\n".join(parts)
            + f"\nsteps AS ({body})\n"
            + "SELECT CAST(step AS BIGINT) AS step, CAST(center_id AS BIGINT) AS center_id,"
              " CAST(radius_sq AS BIGINT) AS radius_sq FROM steps ORDER BY step")


@query("q_coreset_kcenter", oracle=_coreset_oracle())
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 2-approximation)
    over the embedding table — the diversity-first data-selection
    primitive (pick the K mutually-farthest exemplars; radius_sq after
    each pick is the covering bound the 2-approx guarantee speaks
    about). Deterministic: micro-unit BIGINT vectors, exact integer
    squared distances, argmax ties broken by min vec_id.

    Scale shape: K passes over the vector relation (inherent to
    Gonzalez — each pick needs the current max of dmin), each pass a
    broadcast of ONE center row + a map-side distance update; the
    argmax is a pair of 1-row global reduces (max, then min vec_id at
    that max), never a sort. The per-round ``dmin`` relation is
    persisted and parked each round — round r's blocks serve
    round r's scalar reduces AND round r+1's update, so each round
    scans the vectors once (without the persist the chained lineage
    re-executed every prior round per reduce: ~K²/2 corpus passes, 80
    exchanges in the round-10 plan audit; the SSSP 808d751 pattern).
    At 100 TB: same plan with K·2 scalar reduces; sub-sample or
    IVF-route the candidate pool first if K grows past tens (the
    q_knn_classify routing note).

    Reference: extension tier (SURVEY §2 X-rows) — the reference ETL
    (src/main.rs) has no analytics; coreset/diversity selection is the
    data-efficient-training step of a curation pipeline."""
    uv = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(micro_expr("embedding")).alias("uvec"),
    )
    seed = uv.agg(F.min("vec_id").alias("cid"))
    cent = uv.join(F.broadcast(seed), uv.vec_id == F.col("cid")).select(
        "cid", F.col("uvec").alias("carr")
    )
    d = park(
        uv.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "uvec",
            F.col("cid").alias("cur_cid"),
            F.expr(int_sqdist_expr("uvec", "carr")).alias("dmin"),
        )
        .persist(),
        spark,
        sf_dir,
    )
    steps = [
        d.agg(
            F.lit(1).cast("long").alias("step"),
            F.first("cur_cid").cast("long").alias("center_id"),
            F.max("dmin").alias("radius_sq"),
        )
    ]
    for k in range(2, CORESET_K + 1):
        mx = d.agg(F.max("dmin").alias("mx"))
        cand = (
            d.join(F.broadcast(mx), F.col("dmin") == F.col("mx"))
            .agg(F.min("vec_id").alias("cid"))
        )
        cent = uv.join(F.broadcast(cand), uv.vec_id == F.col("cid")).select(
            "cid", F.col("uvec").alias("carr")
        )
        d = park(
            d.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "uvec",
                F.col("cid").alias("cur_cid"),
                F.least(
                    F.col("dmin"), F.expr(int_sqdist_expr("uvec", "carr"))
                ).alias("dmin"),
            )
            .persist(),
            spark,
            sf_dir,
        )
        steps.append(
            d.agg(
                F.lit(k).cast("long").alias("step"),
                F.first("cur_cid").cast("long").alias("center_id"),
                F.max("dmin").alias("radius_sq"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Budgeted quality curation: global greedy selection under a token budget
# ---------------------------------------------------------------------------

# Keep the best documents until the training-token budget is spent:
# budget = BUDGET_PCT% of the corpus's total tokens.
BUDGET_PCT = 40
# Quality bands for the two-level cumulative sum: floor(score·100)
# buckets the [0,1] score into ≤101 bands, so the global prefix sum
# decomposes into (bounded band-offset window) + (per-band window) —
# the q_win_running_scalable / q_corpus_shuffle decomposition; the
# naive row_number-over-everything form is the hot-key cliff.
BUDGET_BANDS = 100


def _select_budget_oracle() -> str:
    from kafka_to_parquet_spark.functions.text import _QUALITY_ORACLE

    return f"""
WITH s AS ({_QUALITY_ORACLE}),
t AS (
  SELECT d.doc_id, d.source, s.n_tokens, s.quality_score
  FROM documents d JOIN s ON d.doc_id = s.doc_id
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) * {BUDGET_PCT} // 100 AS budget FROM t),
r AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS cum
  FROM t
),
sel AS (SELECT doc_id, n_tokens FROM r WHERE cum <= (SELECT budget FROM tot))
SELECT t.source,
       CAST(count(*) AS BIGINT)                          AS n_src,
       CAST(count(sel.doc_id) AS BIGINT)                 AS n_sel,
       CAST(sum(t.n_tokens) AS BIGINT)                   AS tok_src,
       CAST(coalesce(sum(sel.n_tokens), 0) AS BIGINT)    AS tok_sel,
       CAST(count(sel.doc_id) * 10000 // count(*) AS BIGINT) AS sel_docs_bp,
       CAST(coalesce(sum(sel.n_tokens), 0) * 10000 // sum(t.n_tokens) AS BIGINT)
                                                         AS sel_tok_bp
FROM t LEFT JOIN sel ON t.doc_id = sel.doc_id
GROUP BY t.source
ORDER BY t.source
"""


@query("q_select_budget", oracle=_select_budget_oracle())
def q_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quality-ranked greedy selection under a hard token
    budget ({BUDGET_PCT}% of corpus tokens): rank ALL documents by
    (quality_score DESC, doc_id), keep while the running token total
    fits — the budgeted-curation step (DCLM/FineWeb "keep the best N
    tokens"), complementary to q_select_topq's per-source percentile
    (this one lets strong sources win the whole budget; the report's
    per-source selected shares show exactly how lopsided that gets).

    The global prefix sum is two-level, never a global window: docs
    band by floor(score·{BUDGET_BANDS}) (≤{BUDGET_BANDS}+1 bands);
    per-band token totals prefix-sum on the tiny band grid (bounded
    single-partition window, allowlisted); within a band the cumsum
    window partitions BY BAND. Band order (DESC) refines to the exact
    global (score DESC, doc_id) order because a band is a score
    interval. Budget scalar = one global reduce, broadcast back.

    Scale shape at 100 TB: one tokenize pass, one band-keyed exchange
    (≤{BUDGET_BANDS}+1 partitions of score-sorted docs — salt a hot
    band by splitting its range if the score distribution spikes), a
    grid-sized window, and a source-keyed report aggregate."""
    from kafka_to_parquet_spark.functions.text import q_text_quality

    scored = q_text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    t = docs.join(scored, "doc_id").withColumn(
        "band", F.floor(F.col("quality_score") * BUDGET_BANDS).cast("int")
    )
    budget = t.agg(
        F.expr(f"CAST(sum(n_tokens) AS BIGINT) * {BUDGET_PCT} DIV 100").alias(
            "budget"
        )
    )
    # Band offsets: tokens in STRICTLY higher-quality bands — a window
    # over the ≤BUDGET_BANDS+1 band-total rows.
    bands = t.groupBy("band").agg(F.sum("n_tokens").cast("long").alias("tok_band"))
    wb = (
        Window.orderBy(F.desc("band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bands.select(
        "band", F.coalesce(F.sum("tok_band").over(wb), F.lit(0)).alias("band_off")
    )
    win = (
        Window.partitionBy("band")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = (
        t.join(F.broadcast(offsets), "band")
        .withColumn("cum", F.col("band_off") + F.sum("n_tokens").over(win))
        .crossJoin(F.broadcast(budget))
    )
    sel = r.withColumn("selected", F.col("cum") <= F.col("budget"))
    return (
        sel.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_src"),
            F.sum(F.when(F.col("selected"), 1).otherwise(0))
            .cast("long")
            .alias("n_sel"),
            F.sum("n_tokens").cast("long").alias("tok_src"),
            F.sum(F.when(F.col("selected"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tok_sel"),
        )
        .select(
            "source",
            "n_src",
            "n_sel",
            "tok_src",
            "tok_sel",
            F.expr("n_sel * 10000 DIV n_src").alias("sel_docs_bp"),
            F.expr("tok_sel * 10000 DIV tok_src").alias("sel_tok_bp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Batching-efficiency audit: padding waste under three bucketing rules
# ---------------------------------------------------------------------------

_PAD_POW2 = "greatest(CAST(16 AS BIGINT), CAST(pow(2, ceil(log2(CAST({n} AS DOUBLE)))) AS BIGINT))"
_PAD_LIN = "((({n}) + 63) DIV 64) * 64"
_PAD_LIN_DUCK = "((({n}) + 63) // 64) * 64"


def _pad_waste_oracle() -> str:
    return f"""
WITH t AS (
  SELECT CAST(len({_TOKENS_SQL}) AS BIGINT) AS n
  FROM documents
),
nz AS (SELECT n FROM t WHERE n > 0),
mx AS (SELECT max(n) AS lmax FROM nz),
caps AS (
  SELECT n,
         (SELECT lmax FROM mx)                                          AS cap_max,
         greatest(CAST(16 AS BIGINT),
                  CAST(pow(2, ceil(log2(CAST(n AS DOUBLE)))) AS BIGINT)) AS cap_pow2,
         {_PAD_LIN_DUCK.format(n='n')}                                   AS cap_lin
  FROM nz
),
u AS (
  SELECT 'global_max' AS strategy, n, cap_max AS cap FROM caps
  UNION ALL SELECT 'pow2', n, cap_pow2 FROM caps
  UNION ALL SELECT 'linear64', n, cap_lin FROM caps
)
SELECT strategy,
       CAST(count(*) AS BIGINT)                      AS n_docs,
       CAST(count(DISTINCT cap) AS BIGINT)           AS n_buckets,
       CAST(sum(n) AS BIGINT)                        AS real_tokens,
       CAST(sum(cap - n) AS BIGINT)                  AS pad_tokens,
       CAST(sum(cap - n) * 10000 // sum(cap) AS BIGINT) AS waste_bp
FROM u GROUP BY strategy ORDER BY strategy
"""


@query("q_pad_waste_buckets", oracle=_pad_waste_oracle())
def q_pad_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding waste audit: how many pad tokens three per-doc
    batching rules burn — pad-to-corpus-max (the naive collate),
    pad-to-next-power-of-two (bucketed batching, min 16), and
    pad-to-next-64 (linear buckets) — the GPU-efficiency table that
    motivates sequence packing (q_pack_sequences is the zero-pad
    endpoint of the same trade-off). waste_bp = padding share of all
    batched positions.

    Determinism: lengths are BIGINTs; pow(2, ceil(log2(n))) is exact
    for every attainable cap (powers of two are exact doubles and
    log2 of an exact power is exact), mirrored verbatim in both
    engines.

    Scale shape: one tokenize pass collapsed map-side to the 3-row
    report; the only broadcast scalar is the corpus max. Buckets are
    values, not partitions — nothing shuffles by cap."""
    d = load(spark, sf_dir, "documents")
    t = d.select(F.size(tokens_col(F.col("text"))).cast("long").alias("n")).filter(
        F.col("n") > 0
    )
    mx = t.agg(F.max("n").alias("lmax"))
    caps = t.crossJoin(F.broadcast(mx)).select(
        "n",
        F.col("lmax").alias("cap_max"),
        F.expr(_PAD_POW2.format(n="n")).alias("cap_pow2"),
        F.expr(_PAD_LIN.format(n="n")).alias("cap_lin"),
    )
    u = (
        caps.select(F.lit("global_max").alias("strategy"), "n", F.col("cap_max").alias("cap"))
        .unionByName(caps.select(F.lit("pow2").alias("strategy"), "n", F.col("cap_pow2").alias("cap")))
        .unionByName(caps.select(F.lit("linear64").alias("strategy"), "n", F.col("cap_lin").alias("cap")))
    )
    return (
        u.groupBy("strategy")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cap").cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("real_tokens"),
            F.sum(F.col("cap") - F.col("n")).cast("long").alias("pad_tokens"),
            F.expr("CAST(sum(cap - n) * 10000 DIV sum(cap) AS BIGINT)").alias(
                "waste_bp"
            ),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Cross-source contamination: directional 8-gram fingerprint leakage
# ---------------------------------------------------------------------------

LEAK_W = 8  # tokens per fingerprint window


def _ngram_leak_oracle() -> str:
    from kafka_to_parquet_spark.functions.hashes import duck_h62

    h = duck_h62(f"array_to_string(toks[ng_i:ng_i+{LEAK_W - 1}], ' ')")
    return f"""
WITH t AS (
  SELECT source, {_TOKENS_SQL} AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, CAST(len(toks) AS INTEGER) - {LEAK_W - 2}),
                               ng_i -> {h})) AS fph
  FROM t WHERE len(toks) >= {LEAK_W}
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fp FROM g GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM g a JOIN g b ON a.fph = b.fph AND a.source <> b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, i.n_shared, s.n_fp AS n_fp_a,
       CAST(i.n_shared * 10000 // s.n_fp AS BIGINT) AS leak_bp
FROM inter i JOIN sz s ON s.source = i.src_a
ORDER BY src_a, src_b
"""


@query("q_source_ngram_leak", oracle=_ngram_leak_oracle())
def q_source_ngram_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source
    pair (A, B), the share of A's distinct {LEAK_W}-gram fingerprints
    that also appear in B (basis points) — the mirror/boilerplate/
    scraped-twice detector between ingestion feeds, directional
    because containment is (a small source can be fully inside a big
    one, not vice versa). q_decontaminate checks the corpus against an
    EXTERNAL benchmark; this is the corpus against itself, per feed.

    Scale shape: the corpus collapses to DISTINCT (source, fp-hash)
    rows — BIGINT digests, never window strings, across the exchange;
    the self-join fans out per fingerprint by the number of SOURCES
    holding it (≤|sources|, independent of corpus size — the reason
    no hot-fingerprint cap is needed here, unlike the doc-granularity
    joins); the report is |sources|² cells at most."""
    from kafka_to_parquet_spark.functions.hashes import spark_h62

    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    g = (
        d.select("source", toks.alias("toks"))
        .filter(F.size("toks") >= LEAK_W)
        .select(
            "source",
            F.explode(
                F.expr(f"transform({word_ngrams('toks', LEAK_W)}, g -> {spark_h62('g')})")
            ).alias("fph"),
        )
        .distinct()
    )
    sz = g.groupBy("source").agg(F.count("*").cast("long").alias("n_fp"))
    ga = g.select(F.col("source").alias("src_a"), "fph")
    gb = g.select(F.col("source").alias("src_b"), "fph")
    inter = (
        ga.join(gb, "fph")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        inter.join(F.broadcast(sz.withColumnRenamed("source", "src_a")), "src_a")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.col("n_fp").alias("n_fp_a"),
            F.expr("n_shared * 10000 DIV n_fp").alias("leak_bp"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (crawl-frontier hygiene)
# ---------------------------------------------------------------------------

def _url_raw_sql(concat: str, str_ty: str, doc_id: str = "doc_id",
                 intdiv: str = "DIV") -> str:
    """Synthesized raw URL per document (in-plan, the q_pii_scrub
    discipline: the fixture stays untouched and both engines recompute
    the same inputs). Eight variants per group g = doc_id DIV 8, built
    so the ORACLE GROUP STRUCTURE pins every canonicalization rule
    (round-11 advisor fix — the old six-variant fixture sent the
    whole-URL-uppercase and unsorted-params spellings to singleton
    groups the n_urls >= 2 filter discarded, leaving the host-case and
    param-sort rules pinned only by the local unit test):

    - 0 base, 1 scheme+HOST uppercased (path untouched — joins the
      base group ONLY if the engine lowercases scheme/host),
    - 2 default :443 port, 3 trailing slash, 4 utm_* tracking params
      — all collapse into the base group (n_urls = 5),
    - 5 '?b=2&a=1#frag' and 6 '?a=1&b=2' — a pair sharing the same
      sorted param set, its own 2-member group ONLY if the engine
      sorts params (and strips the fragment),
    - 7 whole-URL upper() — the uppercased PATH is case-SENSITIVE, so
      this stays a singleton; an engine that over-canonicalizes by
      lowercasing paths would merge it into the base group and change
      that group's counts."""
    g = f"CAST({doc_id} {intdiv} 8 AS {str_ty})"
    base = f"{concat}('https://ex', {g}, '.com/p/', {g})"
    return (
        f"CASE {doc_id} % 8"
        f" WHEN 0 THEN {base}"
        f" WHEN 1 THEN {concat}('HTTPS://EX', {g}, '.COM/p/', {g})"
        f" WHEN 2 THEN {concat}('https://ex', {g}, '.com:443/p/', {g})"
        f" WHEN 3 THEN {concat}('https://ex', {g}, '.com/p/', {g}, '/')"
        f" WHEN 4 THEN {concat}({base}, '?utm_source=feed&utm_campaign=c', {g})"
        f" WHEN 5 THEN {concat}({base}, '?b=2&a=1#frag')"
        f" WHEN 6 THEN {concat}({base}, '?a=1&b=2')"
        f" ELSE upper({base})"
        f" END"
    )


def _url_canon_sql(url: str, *, duck: bool) -> str:
    """Canonical form of ``url``: strip fragment, lowercase scheme and
    host, drop default ports (http:80 / https:443), strip trailing
    path slashes (empty path → '/'), drop utm_* tracking params, sort
    the surviving query params. Same value in both engines — only the
    lambda/array spellings differ."""
    u = f"split_part({url}, '#', 1)"
    scheme = f"lower(split_part({u}, '://', 1))"
    rest = f"split_part({u}, '://', 2)"
    hostport = f"split_part({rest}, '/', 1)"
    pathq = f"substr({rest}, length({hostport}) + 1)"
    host = f"lower(split_part({hostport}, ':', 1))"
    port = f"split_part({hostport}, ':', 2)"
    keep_port = (
        f"CASE WHEN {port} = '' THEN ''"
        f" WHEN {scheme} = 'https' AND {port} = '443' THEN ''"
        f" WHEN {scheme} = 'http' AND {port} = '80' THEN ''"
        f" ELSE concat(':', {port}) END"
    )
    rawpath = f"split_part({pathq}, '?', 1)"
    path = (
        f"CASE WHEN regexp_replace({rawpath}, '/+$', '') = '' THEN '/'"
        f" ELSE regexp_replace({rawpath}, '/+$', '') END"
    )
    query = f"split_part({pathq}, '?', 2)"
    if duck:
        params = (
            f"array_to_string(list_sort(list_filter(string_split({query}, '&'),"
            f" url_p -> NOT starts_with(url_p, 'utm_') AND url_p <> '')), '&')"
        )
    else:
        params = (
            f"array_join(sort_array(filter(split({query}, '&'),"
            f" url_p -> NOT startswith(url_p, 'utm_') AND url_p <> '')), '&')"
        )
    # DuckDB's array_to_string over an EMPTY list yields NULL (Spark's
    # array_join yields '') — coalesce so the no-params case is ''
    # in both engines instead of a dangling '?'.
    params = f"coalesce({params}, '')"
    qpart = f"CASE WHEN {params} = '' THEN '' ELSE concat('?', {params}) END"
    return f"concat({scheme}, '://', {host}, {keep_port}, {path}, {qpart})"


def _dedup_url_oracle() -> str:
    raw = _url_raw_sql("concat", "VARCHAR", intdiv="//")
    canon = _url_canon_sql("raw_url", duck=True)
    return f"""
WITH u AS (SELECT doc_id, {raw} AS raw_url FROM documents),
c AS (SELECT doc_id, raw_url, {canon} AS canon_url FROM u),
g AS (
  SELECT canon_url,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
         CAST(min(doc_id) AS BIGINT) AS keeper
  FROM c GROUP BY canon_url
)
SELECT canon_url, n_urls, n_raw_forms, keeper
FROM g WHERE n_urls >= 2
ORDER BY canon_url
"""


@query("q_dedup_url", oracle=_dedup_url_oracle())
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier hygiene pass
    that collapses scheme/host case, default ports, trailing slashes,
    fragments, and utm_* tracking params before fetch scheduling or
    recrawl-dedup (every large crawl's first dedup is BY URL, before
    any content hash exists). Groups with ≥2 members are reported with
    their keeper (min doc_id) and the number of distinct raw spellings
    collapsed.

    Canonicalization is one shared SQL recipe rendered per engine
    (_url_canon_sql); URLs are synthesized in-plan from doc_id (the
    q_pii_scrub discipline), eight spelling variants per group laid
    out so the oracle's group structure pins every rule — including
    host-case and param-sort, each of which lands a >=2-member group
    only when its rule fires (see _url_raw_sql) — and an uppercase-
    path singleton that guards against OVER-canonicalization.

    Scale shape: canonicalize is a pure per-row map (no UDF — split/
    regexp/array built-ins, whole-stage codegen); the only exchange
    is the canon-keyed group-by, and at 100 TB the canon strings can
    be swapped for their h62 digests in the shuffle with the report
    joining the string back on the keeper row only."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    raw = _url_raw_sql("concat", "STRING")
    canon = _url_canon_sql("raw_url", duck=False)
    return (
        d.select("doc_id", F.expr(raw).alias("raw_url"))
        .select("doc_id", "raw_url", F.expr(canon).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("keeper"),
        )
        .filter(F.col("n_urls") >= 2)
        .orderBy("canon_url")
    )


# ---------------------------------------------------------------------------
# Quality-filter ensemble attribution (which rule does the killing?)
# ---------------------------------------------------------------------------

# Integer-exact kill rules (thresholds in integer cross-multiplied
# form so no ratio is ever materialized as a float):
#   len   — fewer than QE_MIN_TOKENS tokens
#   ttr   — unique/total below QE_TTR_BP basis points (templated text)
#   stop  — stopword share below QE_STOP_BP bp (gibberish / non-prose)
#   digit — digit characters above QE_DIGIT_BP bp of chars (tables/ids)
QE_MIN_TOKENS = 15
QE_TTR_BP = 3000
QE_STOP_BP = 500
QE_DIGIT_BP = 2000

_QE_RULES = ["len", "ttr", "stop", "digit"]


def _qe_flags_sql(duck: bool) -> str:
    """Per-doc rule booleans as INTEGER 0/1 columns, one shared recipe
    rendered per engine (only the list-function spellings differ)."""
    if duck:
        toks = _TOKENS_SQL
        n = f"len({toks})"
        nu = f"len(list_distinct({toks}))"
        nstop = f"len(list_filter({toks}, qe_t -> qe_t IN {_STOP_SQL}))"
        ndigit = "length(regexp_replace(text, '[^0-9]', '', 'g'))"
    else:
        toks = TOKENS_EXPR
        n = f"size({toks})"
        nu = f"size(array_distinct({toks}))"
        nstop = f"size(filter({toks}, qe_t -> array_contains({STOP_ARRAY_EXPR}, qe_t)))"
        ndigit = "length(regexp_replace(text, '[^0-9]', ''))"
    return (
        f"SELECT doc_id,"
        f" CASE WHEN {n} < {QE_MIN_TOKENS} THEN 1 ELSE 0 END AS f_len,"
        f" CASE WHEN {nu} * 10000 < {n} * {QE_TTR_BP} THEN 1 ELSE 0 END AS f_ttr,"
        f" CASE WHEN {nstop} * 10000 < {n} * {QE_STOP_BP} THEN 1 ELSE 0 END AS f_stop,"
        f" CASE WHEN {ndigit} * 10000 > length(text) * {QE_DIGIT_BP} THEN 1 ELSE 0 END"
        f" AS f_digit"
        f" FROM documents"
    )


def _quality_ensemble_oracle() -> str:
    flags = _qe_flags_sql(duck=True)
    rule_rows = "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, f_{r} AS flagged, nf FROM f" for r in _QE_RULES
    )
    return f"""
WITH f0 AS ({flags}),
f AS (SELECT *, f_len + f_ttr + f_stop + f_digit AS nf FROM f0),
per AS ({rule_rows}),
rules AS (
  SELECT rule,
         CAST(sum(flagged) AS BIGINT) AS n_flagged,
         CAST(sum(CASE WHEN flagged = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_solo,
         CAST(sum(flagged) * 10000 // count(*) AS BIGINT) AS flagged_bp
  FROM per GROUP BY rule
),
anyr AS (
  SELECT 'any' AS rule,
         CAST(sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         CAST(sum(CASE WHEN nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_solo,
         CAST(sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
           AS flagged_bp
  FROM f
)
SELECT rule, n_flagged, n_solo, flagged_bp FROM rules
UNION ALL SELECT rule, n_flagged, n_solo, flagged_bp FROM anyr
ORDER BY rule
"""


@query("q_quality_ensemble", oracle=_quality_ensemble_oracle())
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ensemble attribution: for each kill rule of a cheap
    quality ensemble (length / type-token ratio / stopword share /
    digit share — integer cross-multiplied thresholds, no float
    ratios), how many documents it flags, how many it ALONE flags
    (its unique contribution — the number you lose by dropping the
    rule), and its flag rate in bp; plus the 'any' row (union kill
    rate, solo = docs killed by exactly one rule). This is the table a
    curation team reads before touching a threshold — a rule with
    n_solo ≈ 0 is redundant with the rest of the ensemble, a rule
    owning most of 'any' is the one to re-tune first.

    Scale shape: one corpus pass computes the four 0/1 flags map-side;
    the per-rule rows come from a 4-way stack of those integers (rows
    = rules, not docs, after the aggregate); everything downstream is
    a ≤5-row table."""
    d = load(spark, sf_dir, "documents")
    f = spark.sql(
        _qe_flags_sql(duck=False).replace("FROM documents", "FROM {src}"), src=d
    ).withColumn("nf", F.expr("f_len + f_ttr + f_stop + f_digit"))
    per = None
    for r in _QE_RULES:
        leg = f.select(
            F.lit(r).alias("rule"),
            F.col(f"f_{r}").alias("flagged"),
            "nf",
        )
        per = leg if per is None else per.unionByName(leg)
    rules = per.groupBy("rule").agg(
        F.sum("flagged").cast("long").alias("n_flagged"),
        F.sum(F.when((F.col("flagged") == 1) & (F.col("nf") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_solo"),
        F.expr("CAST(sum(flagged) * 10000 DIV count(*) AS BIGINT)").alias(
            "flagged_bp"
        ),
    )
    anyr = f.agg(
        F.lit("any").alias("rule"),
        F.sum(F.when(F.col("nf") > 0, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.sum(F.when(F.col("nf") == 1, 1).otherwise(0)).cast("long").alias("n_solo"),
        F.expr(
            "CAST(sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END) * 10000 DIV count(*)"
            " AS BIGINT)"
        ).alias("flagged_bp"),
    )
    return rules.unionByName(anyr).orderBy("rule")
