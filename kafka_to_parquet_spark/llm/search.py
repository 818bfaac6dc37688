"""Full-text retrieval over the ``documents`` corpus: BM25 ranking and
conjunctive (AND) keyword search — the query side of a training-data
pipeline (e.g. locating benchmark-adjacent or topic-specific documents
before filtering).

Built on the canonical tokenizer shared with functions/text.py so
token semantics are identical across the text family, with the same
DuckDB mirror.

Engine-stability: BM25 is float math (ln), so per-(doc, term) scores
are fenced to integer micro-units via functions.rounding.int_units and
the per-document score is the exact integer sum of those units; the
scoring expression itself is ONE shared SQL fragment evaluated by both
engines (F.expr on the Spark side), so operand order is identical by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import park
from kafka_to_parquet_spark.functions.rounding import int_units
from kafka_to_parquet_spark.functions.text import _TOKENS_SQL, tokens_col
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

BM25_TERMS = ("spark", "merge", "slow")
AND_TERMS = ("spark", "merge", "window")
_TOP_K = 15

# Okapi BM25 with k1 = 1.2, b = 0.75 (so k1+1 = 2.2, 1-b = 0.25).
# Column inputs: tf, df, dl BIGINT; n_docs BIGINT; avgdl DOUBLE.
# Same text on both engines → identical IEEE evaluation order.
_BM25_FRAG = (
    "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
)
_AVGDL_FRAG = "CAST(sum_dl AS DOUBLE) / n_docs"


def _sql_list(terms: tuple[str, ...]) -> str:
    return ", ".join(f"'{t}'" for t in terms)


@query(
    "q_bm25",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents),
dl AS (SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS dl FROM documents),
par AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl),
par2 AS (SELECT n_docs, {_AVGDL_FRAG} AS avgdl FROM par),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       FROM toks WHERE word IN ({_sql_list(BM25_TERMS)}) GROUP BY doc_id, word),
dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
scored AS (
  SELECT tf.doc_id, {int_units(_BM25_FRAG, 6)} AS u
  FROM tf
  JOIN dfq ON tf.word = dfq.word
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN par2
)
SELECT doc_id,
       CAST(sum(u) AS BIGINT) AS score_units,
       CAST(count(*) AS BIGINT) AS n_terms
FROM scored
GROUP BY doc_id
ORDER BY score_units DESC, doc_id
LIMIT {_TOP_K}
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} retrieval for a fixed 3-term query.

    Shape: the corpus-wide constants (N, avgdl) are a 1-row aggregate
    broadcast everywhere; term document-frequencies are a ≤|terms|-row
    aggregate, also broadcast; the only data-sized operations are the
    tokenize→explode→filter (which drops every non-query term BEFORE
    the shuffle, so the (doc, term) tf aggregation moves |matches|
    rows, not |tokens|) and the final per-doc sum. Top-k is
    TakeOrderedAndProject. At 100 TB the inverted-index analog is the
    same plan with the tf relation pre-materialized; nothing here is
    corpus-quadratic.

    The per-(doc, term) float score is fenced to integer micro-units
    (shared fragment, see module docstring) and per-doc totals are
    exact integer sums — ties included, the top-k set is identical in
    both engines with doc_id as the deterministic tiebreak."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    dl = docs.select("doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("dl"))
    par2 = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select("n_docs", F.expr(_AVGDL_FRAG).alias("avgdl"))
    tf = (
        toks.filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(par2))
        .select("doc_id", F.expr(int_units(_BM25_FRAG, 6)).alias("u"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("u").cast("long").alias("score_units"), F.count("*").alias("n_terms"))
        .orderBy(F.desc("score_units"), "doc_id")
        .limit(_TOP_K)
    )


@query(
    "q_search_and",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents),
hits AS (
  SELECT doc_id,
         CAST(count(DISTINCT word) AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM toks WHERE word IN ({_sql_list(AND_TERMS)}) GROUP BY doc_id
)
SELECT h.doc_id, h.n_hits, d.n_chars
FROM hits h JOIN documents d ON h.doc_id = d.doc_id
WHERE h.k = {len(AND_TERMS)}
""",
)
def q_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search: documents containing ALL query
    terms, with total term occurrences and document length.

    Shape: explode → filter to query terms (pre-shuffle selectivity,
    same as q_bm25) → per-doc distinct-term count, keep docs hitting
    every term. The distinct-count is over ≤|terms| values per doc —
    constant state per key. The detail rejoin to ``documents`` is on
    doc_id; hit lists are a vanishing fraction of the corpus, so at
    100 TB the hits side broadcasts."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    hits = (
        toks.filter(F.col("word").isin(*AND_TERMS))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("word").alias("k"),
            F.count("*").alias("n_hits"),
        )
        .filter(F.col("k") == len(AND_TERMS))
    )
    return hits.join(docs, "doc_id").select("doc_id", "n_hits", "n_chars")


# Reciprocal-rank fusion: query vector id (the embedding of document
# RRF_QV pairs with the BM25 term query), the standard k=60 damping,
# integer contribution scale, and the fused report size.
RRF_QV = 0
RRF_K = 60
RRF_OUT_K = 10

# The BM25 leg reuses q_bm25's registered oracle verbatim as a nested
# CTE (DuckDB allows WITH inside a parenthesized subquery), so the two
# queries can never drift.
from kafka_to_parquet_spark.registry import ORACLE_SQL as _OSQL  # noqa: E402
from kafka_to_parquet_spark.functions.vectors import (  # noqa: E402
    cosine_expr,
    duck_cosine,
)


@query(
    "q_search_rrf",
    oracle=f"""
WITH bmtop AS ({_OSQL['q_bm25']}),
bmr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_units DESC, doc_id) AS BIGINT)
           AS rank_bm25
  FROM bmtop
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {RRF_QV}),
cs AS (
  SELECT vec_id AS doc_id, round({duck_cosine('e.embedding', 'qv.qe')}, 6) AS cos
  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> {RRF_QV}
),
cstop AS (SELECT doc_id, cos FROM cs ORDER BY cos DESC, doc_id LIMIT {_TOP_K}),
csr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_cos
  FROM cstop
)
SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
       CAST(coalesce(1000000000 // ({RRF_K} + rank_bm25), 0)
          + coalesce(1000000000 // ({RRF_K} + rank_cos), 0) AS BIGINT)
         AS fused_units,
       rank_bm25, rank_cos
FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.doc_id
ORDER BY fused_units DESC, doc_id
LIMIT {RRF_OUT_K}
""",
)
def q_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.):
    the lexical BM25 top-{k} and the dense cosine top-{k} (the query
    vector is document {RRF_QV}'s embedding, pairing with the BM25
    term query) fused by Σ 1/(60 + rank) — the standard way modern
    retrieval stacks combine keyword and embedding search without
    score calibration.

    Contributions are exact integers (10^9 DIV (60 + rank), pure
    integer division in both engines), so the fused ordering and the
    top-{RRF_OUT_K} set are deterministic with doc_id tiebreak; a
    document present in only one list gets the other leg's
    contribution as 0 via the full outer join, and its missing rank
    stays NULL in the report.

    Plan: both legs are already top-k-truncated (15 rows each) before
    ranking, so the windows, the full outer join, and the final sort
    all run on constant-size data; the heavy lifting is inside the
    legs, each with its own documented scale shape (q_bm25's
    filter-before-shuffle inverted index; the brute-force cosine leg
    broadcasts ONE query vector over the corpus — swap in the IVF/LSH
    path for many-query batches)."""
    bm = q_bm25(spark, sf_dir).select("doc_id", "score_units")
    wb = Window.orderBy(F.desc("score_units"), F.asc("doc_id"))
    bmr = bm.withColumn("rank_bm25", F.row_number().over(wb).cast("long")).select(
        "doc_id", "rank_bm25"
    )
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == RRF_QV).select(F.col("embedding").alias("qe"))
    cs = (
        e.filter(F.col("vec_id") != RRF_QV)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine_expr("embedding", "qe")), 6).alias("cos"),
        )
    )
    cstop = cs.orderBy(F.desc("cos"), F.asc("doc_id")).limit(_TOP_K)
    wc = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    csr = cstop.withColumn("rank_cos", F.row_number().over(wc).cast("long")).select(
        "doc_id", "rank_cos"
    )
    return (
        bmr.join(csr, "doc_id", "full")
        .select(
            "doc_id",
            F.expr(
                f"CAST(coalesce(1000000000 DIV ({RRF_K} + rank_bm25), 0)"
                f" + coalesce(1000000000 DIV ({RRF_K} + rank_cos), 0) AS BIGINT)"
            ).alias("fused_units"),
            "rank_bm25",
            "rank_cos",
        )
        .orderBy(F.desc("fused_units"), F.asc("doc_id"))
        .limit(RRF_OUT_K)
    )


# ---------------------------------------------------------------------------
# MMR: maximal-marginal-relevance diversity reranking
# ---------------------------------------------------------------------------

MMR_QV = 0  # query vector (same convention as the RRF cosine leg)
MMR_POOL = 20  # candidate pool = cosine top-20
MMR_K = 5  # final reranked selection size
MMR_LAM10 = 7  # lambda = 0.7, carried as integer tenths


def _mmr_oracle() -> str:
    cqu = int_units(duck_cosine("e.embedding", "qv.qe"))
    cu = int_units(duck_cosine("x.embedding", "y.embedding"))
    parts = [
        f"qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {MMR_QV})",
        f"""cs AS (
  SELECT e.vec_id, {cqu} AS cqu
  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> {MMR_QV}
)""",
        f"pool AS (SELECT * FROM cs ORDER BY cqu DESC, vec_id LIMIT {MMR_POOL})",
        """pe AS (
  SELECT p.vec_id, p.cqu, e.embedding
  FROM pool p JOIN embeddings e USING (vec_id)
)""",
        f"""pair AS (
  SELECT x.vec_id AS a, y.vec_id AS b, {cu} AS cu
  FROM pe x JOIN pe y ON x.vec_id <> y.vec_id
)""",
        f"""s1 AS (
  SELECT CAST(1 AS BIGINT) AS rank, vec_id,
         CAST({MMR_LAM10} * cqu AS BIGINT) AS score_u
  FROM pool ORDER BY cqu DESC, vec_id LIMIT 1
)""",
    ]
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, r))
        parts.append(
            f"""s{r} AS (
  SELECT CAST({r} AS BIGINT) AS rank, p.vec_id,
         CAST({MMR_LAM10} * p.cqu - {10 - MMR_LAM10} *
              (SELECT max(cu) FROM pair
               WHERE pair.a = p.vec_id AND pair.b IN ({prev})) AS BIGINT) AS score_u
  FROM pool p WHERE p.vec_id NOT IN ({prev})
  ORDER BY score_u DESC, p.vec_id LIMIT 1
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return "WITH " + ",\n".join(parts) + f"\n{union}"


@query("q_rerank_mmr", oracle=_mmr_oracle())
def q_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein
    1998): from the cosine top-{POOL} candidate pool, iteratively pick
    the item maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the
    diversity-aware second stage every retrieval pipeline runs after
    the recall stage. Scores are integer micro-unit cosines with λ in
    tenths (7/3), so every comparison is integer-exact across engines;
    empty-selection max term is 0 (round 1 score = λ·rel), ties break
    on vec_id — fully deterministic, mirrored in a chained-CTE oracle
    (the kmeans3/pagerank iteration discipline).

    Scale shape: the pool selection is the only corpus-sized stage
    (broadcast query vector → TakeOrderedAndProject top-{POOL}); the
    rerank itself touches {POOL}² pairwise cosines and {K} argmax
    rounds over ≤{POOL} rows — constant work regardless of corpus
    size, which is exactly why rerank-after-recall is the production
    ANN architecture. The iteration is pure plan composition (chained
    joins, no driver collect); each round's argmax is a
    min(struct(-score, id)) single-row aggregate."""
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == MMR_QV).select(F.col("embedding").alias("qe"))
    cqu = F.expr(int_units(cosine_expr("embedding", "qe")))
    cs = (
        e.filter(F.col("vec_id") != MMR_QV)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cqu.alias("cqu"))
    )
    pool = park(
        cs.orderBy(F.desc("cqu"), F.asc("vec_id")).limit(MMR_POOL), spark, sf_dir
    )
    pe = park(
        pool.join(e, "vec_id").select("vec_id", "cqu", "embedding"), spark, sf_dir
    )
    cu = F.expr(int_units(cosine_expr("x.embedding", "y.embedding")))
    pair = park(
        pe.alias("x")
        .join(pe.alias("y"), F.col("x.vec_id") != F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"), cu.alias("cu")
        ),
        spark,
        sf_dir,
    )
    first = (
        pool.orderBy(F.desc("cqu"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            "vec_id",
            (F.lit(MMR_LAM10) * F.col("cqu")).cast("long").alias("score_u"),
        )
    )
    sel = first
    for r in range(2, MMR_K + 1):
        remaining = pool.join(sel.select("vec_id"), "vec_id", "left_anti")
        maxsim = (
            pair.join(sel.select(F.col("vec_id").alias("b")), "b")
            .groupBy("a")
            .agg(F.max("cu").alias("ms"))
        )
        scored = remaining.join(
            maxsim, remaining.vec_id == maxsim.a
        ).select(
            "vec_id",
            (F.lit(MMR_LAM10) * F.col("cqu") - F.lit(10 - MMR_LAM10) * F.col("ms"))
            .cast("long")
            .alias("score_u"),
        )
        pick = (
            scored.agg(F.min(F.struct((-F.col("score_u")).alias("neg"), F.col("vec_id"))).alias("m"))
            .select(
                F.lit(r).cast("long").alias("rank"),
                F.col("m.vec_id").alias("vec_id"),
                (-F.col("m.neg")).cast("long").alias("score_u"),
            )
        )
        sel = park(sel.unionByName(pick), spark, sf_dir)
    return sel


# ---------------------------------------------------------------------------
# Offline retrieval evaluation: NDCG@k of the BM25 ranking
# ---------------------------------------------------------------------------

# Graded gain = number of distinct query terms present (1..3): a
# deterministic relevance judgment derivable on both engines, so the
# metric needs no human labels to be oracle-exact.
_DCG_TERM = (
    "CAST(round(1000000 * (CAST(pow(2, CAST(rel AS DOUBLE)) - 1 AS DOUBLE)"
    " / log2(CAST(pos + 1 AS DOUBLE)))) AS BIGINT)"
)


from kafka_to_parquet_spark.registry import ORACLE_SQL as _ORACLE_SQL

# The ranked leg's oracle IS q_bm25's registered oracle, spliced in as
# a CTE — single source of truth, the two can't drift.
@query(
    "q_ndcg_bm25",
    oracle=f"""
WITH ranked_raw AS ({_ORACLE_SQL["q_bm25"]}),
ranked AS (
  SELECT doc_id, n_terms AS rel,
         row_number() OVER (ORDER BY score_units DESC, doc_id) AS pos
  FROM ranked_raw
),
dcg AS (SELECT CAST(sum({_DCG_TERM}) AS BIGINT) AS dcg_micro FROM ranked),
rels AS (
  SELECT doc_id, CAST(count(DISTINCT word) AS BIGINT) AS rel
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
  WHERE word IN ({_sql_list(BM25_TERMS)}) GROUP BY doc_id
),
ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos FROM rels
),
idcg AS (SELECT CAST(sum({_DCG_TERM}) AS BIGINT) AS idcg_micro
         FROM ideal WHERE pos <= {_TOP_K})
SELECT CAST({_TOP_K} AS BIGINT) AS k, dcg_micro, idcg_micro,
       CAST(dcg_micro * 10000 // idcg_micro AS BIGINT) AS ndcg_bp
FROM dcg CROSS JOIN idcg
""",
)
def q_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} of the BM25 ranking — the offline retrieval-quality
    eval that closes the search family's loop (q_ann_recall /
    q_lsh_recall grade the ANN and LSH fast paths; this grades the
    RANKER). Relevance is the graded count of distinct query terms
    present (1..3) — deterministic, so DCG, the ideal DCG over the
    corpus-wide relevance distribution, and their ratio are all
    engine-exact.

    Integer discipline: each position's (2^rel − 1)/log2(pos+1) term
    is one mirrored double expression rounded to micros BEFORE the
    positional sum; NDCG is one integer basis-point division.

    Shape: the ranked leg IS the declared q_bm25 plan (composition,
    the q_lsh_recall discipline — the eval grades the production
    ranking, not a private copy); the ideal leg needs only the
    (doc, rel) aggregate the ranker already computes — filtered
    pre-shuffle to query-term hits, so the ideal top-k ranks a
    vanishing fraction of the corpus."""
    ranked_raw = q_bm25(spark, sf_dir)
    wpos = Window.orderBy(F.desc("score_units"), F.asc("doc_id"))
    ranked = ranked_raw.select(
        F.col("n_terms").alias("rel"), F.row_number().over(wpos).alias("pos")
    )
    dcg = ranked.agg(F.sum(F.expr(_DCG_TERM)).cast("long").alias("dcg_micro"))
    docs = load(spark, sf_dir, "documents")
    rels = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("word").cast("long").alias("rel"))
    )
    wideal = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = rels.select("rel", F.row_number().over(wideal).alias("pos")).filter(
        F.col("pos") <= _TOP_K
    )
    idcg = ideal.agg(F.sum(F.expr(_DCG_TERM)).cast("long").alias("idcg_micro"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(_TOP_K).cast("long").alias("k"),
            "dcg_micro",
            "idcg_micro",
            F.expr("CAST(dcg_micro * 10000 DIV idcg_micro AS BIGINT)").alias(
                "ndcg_bp"
            ),
        )
    )
