"""Text-analysis functions over ``documents`` (north-star extension:
tokenization, quality scoring, language-ID heuristic, rolling-hash
fingerprinting — SURVEY §2.11 X4 plus the training-data-pipeline ops).

This module is the package's one definition of how text becomes
tokens (lowercase, split on whitespace, drop empties) and how tokens
become word n-grams, rendered once per engine: ``tokens_col`` (Spark
Column), ``TOKENS_EXPR`` (Spark SQL string), ``_TOKENS_SQL`` (DuckDB),
``token_postings`` / ``_POSTINGS_SQL`` and ``word_ngrams`` /
``word_ngrams_sql``. Every operator and oracle that tokenizes or
shingles goes through these, so a streaming query and its batch twin
cannot drift apart. All of it stays JVM-side via higher-order
functions — no Python in the path. At 100 TB these are embarrassingly
parallel per-row maps (no shuffle except the final aggregations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.rounding import floor_round, floor_round_sql
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# Small function-word list used for stopword-ratio and the language-ID
# heuristic (the synthetic corpus is English-like word salad).
STOPWORDS = ["the", "a", "of", "and", "to"]

# The stopword list per engine: a Spark SQL array literal and a DuckDB
# IN-list.
STOP_ARRAY_EXPR = "array('" + "', '".join(STOPWORDS) + "')"
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


def tokens_col(text: Column) -> Column:
    """Canonical tokenizer: lowercase, whitespace split, drop empties."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


# Spark SQL string of tokens_col over the ``text`` column, for F.expr /
# selectExpr recipes (the SQL literal unescapes ``\\s`` to ``\s``).
TOKENS_EXPR = "filter(split(lower(text), '\\\\s+'), tok_x -> tok_x <> '')"

# DuckDB mirror of tokens_col. The class spells Java's \s: RE2's \s
# leaves out the vertical tab (\x0B), which Spark splits on.
_TOKENS_SQL = "list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"


def token_postings(docs: DataFrame) -> DataFrame:
    """Positional postings (doc_id, pos, word) of ``documents``: one row
    per token, 1-based positions."""
    return docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


# DuckDB mirror of token_postings as a ``post`` CTE. The unnest /
# generate_subscripts pair zips in parallel (the q_kmeans_step oracle
# precedent).
_POSTINGS_SQL = f"""post AS (
  SELECT doc_id,
         CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
         unnest(toks) AS word
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
)"""


def word_ngrams(toks: str, n: int) -> str:
    """Spark SQL: the ordered space-joined n-token windows of the token
    array column ``toks`` (stride 1), empty when it has fewer than n
    tokens. Callers add ``array_distinct`` or a hash themselves.

    The guard is needed because ``sequence(1, 0)`` counts down. Windows
    are built with ``concat(element_at…)`` because it is the fastest
    spelling measured: over 50,000 documents (sf0.1 ``documents`` ×10)
    into a ``noop`` write on two CPUs of a 4-vCPU VM, n=3 took
    2.3-2.6 s (2.1-2.6 s without the guard) against 2.8-3.1 s for
    ``concat_ws(' ', element_at…)`` and 4.4-4.8 s for
    ``concat_ws(' ', slice…)``, with identical arrays on every row. The lambda variable ``ng_i`` is reserved for this
    helper, so it nests inside any caller lambda that does not bind
    ``ng_i``."""
    parts = ", ' ', ".join(
        f"element_at({toks}, ng_i + {j})" if j else f"element_at({toks}, ng_i)"
        for j in range(n)
    )
    return (
        f"CASE WHEN size({toks}) >= {n} THEN transform("
        f"sequence(1, size({toks}) - {n} + 1), ng_i -> concat({parts}))"
        " ELSE array() END"
    )


def word_ngrams_sql(toks: str, n: int) -> str:
    """DuckDB mirror of ``word_ngrams`` (1-based list indexing)."""
    parts = " || ' ' || ".join(
        f"{toks}[ng_i + {j}]" if j else f"{toks}[ng_i]" for j in range(n)
    )
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_transform("
        f"range(1, CAST(len({toks}) AS INTEGER) - {n} + 2), ng_i -> {parts})"
        " ELSE [] END"
    )


@query(
    "q_text_tokens",
    oracle=f"""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word
LIMIT 50
""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4a: token counting — tokenize → explode → count, top-50 words
    (deterministic via the word tiebreak). The explode fans out ~tokens
    rows but the groupBy does map-side partial aggregation, so the
    shuffle carries |vocab| rows, not |tokens|."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


@query(
    "q_text_stats",
    oracle=f"""
SELECT lang,
       CAST(count(*) AS BIGINT)                        AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*)         AS avg_chars,
       CAST(sum(len({_TOKENS_SQL})) AS DOUBLE) / count(*) AS avg_tokens,
       CAST(min(n_chars) AS BIGINT)                    AS min_chars,
       CAST(max(n_chars) AS BIGINT)                    AS max_chars
FROM documents
GROUP BY lang
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4b: corpus length statistics per language label."""
    d = load(spark, sf_dir, "documents")
    # Integer sums / count instead of avg(): exact in both engines →
    # bit-identical quotients (engine avg() implementations may differ).
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(F.size(tokens_col(F.col("text")))).cast("double") / F.count(F.lit(1))).alias(
            "avg_tokens"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# One oracle text for the quality scorer, shared verbatim by
# q_text_quality and (as a subquery) q_select_topq so the score
# formula can never drift between the two.
_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(len(toks) AS INTEGER)                AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
       {floor_round_sql('CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)', 6)} AS ttr,
       {floor_round_sql(f'CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)'
                        ' / len(toks)', 6)}      AS stop_ratio,
       {floor_round_sql('least(CAST(len(toks) AS DOUBLE) / 50, 1.0)'
                        ' * (0.5 + 0.5 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))',
                        6)}                      AS quality_score
FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
"""


@query("q_text_quality", oracle=_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, type-token ratio, stopword ratio,
    and a composite score (length saturation × lexical diversity) — the
    standard cheap pre-filters of a training-data pipeline. Pure
    higher-order functions; one pass, no shuffle."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("double")
    nu = F.size(F.array_distinct("toks")).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    nstop = F.size(F.filter(F.col("toks"), lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    )
    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        floor_round(nu / n, 6).alias("ttr"),
        floor_round(nstop / n, 6).alias("stop_ratio"),
        floor_round(F.least(n / 50, F.lit(1.0)) * (0.5 + 0.5 * nu / n), 6).alias(
            "quality_score"
        ),
    )


@query(
    "q_text_langid",
    oracle=f"""
SELECT doc_id,
       lang,
       CASE WHEN CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)
                 / len(toks) >= 0.02
            THEN 'en' ELSE 'und' END AS lang_pred
FROM (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents)
""",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word (stopword) frequency
    scoring — the classic n-gram/profile approach reduced to one
    profile, since the synthetic corpus is English-like for every lang
    label. Real multi-language ID = one such score per language profile
    + argmax, same plan shape (a wider projection); the declared query
    keeps the structure honest and oracle-checkable."""
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", "lang", toks.alias("toks"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(F.col("toks"), lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    ) / F.size("toks")
    return base.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.02, "en").otherwise("und").alias("lang_pred"),
    )


# BPE-ish subword segmentation: alpha runs, digit runs, and single
# punctuation marks — the pre-tokenization regex GPT-style BPE vocabs
# apply before merges. Same RE2/Java-compatible pattern both engines.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "q_text_bpe_tokens",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS INTEGER) AS n_bpe,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '{BPE_PATTERN}'))) AS INTEGER)
         AS n_bpe_uniq,
       CAST(len(list_filter(regexp_extract_all(lower(text), '{BPE_PATTERN}'),
                            t -> regexp_matches(t, '^[0-9]+$'))) AS INTEGER) AS n_digit_runs
FROM documents
""",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: BPE-ish token counting — the subword pre-tokenization pass
    of a training-data pipeline (whitespace tokens are q_text_tokens).
    The regex is passed as a Column literal, not through a SQL string
    (Spark SQL literals eat backslash escapes). Per-row map, no
    shuffle; count columns are what a token-budget planner consumes."""
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
    base = d.select("doc_id", toks.alias("bt"))
    return base.select(
        "doc_id",
        F.size("bt").alias("n_bpe"),
        F.size(F.array_distinct("bt")).alias("n_bpe_uniq"),
        F.size(F.filter("bt", lambda t: t.rlike("^[0-9]+$"))).alias("n_digit_runs"),
    )


@query(
    "q_sample_stratified",
    oracle="""
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
             count(*)     OVER (PARTITION BY lang)                 AS n_lang
      FROM documents)
WHERE rn <= CAST(ceil(0.1 * n_lang) AS BIGINT)
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 10% sample per language — deterministic (doc_id
    order) so it is reproducible run-to-run AND oracle-checkable, which
    a random TABLESAMPLE is not. One window shuffle partitioned by the
    stratum key; per-stratum state is a counter. The training-data use:
    balanced subsampling before expensive per-doc scoring."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    wc = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(0.1 * F.col("n_lang")).cast("long"))
        .select("doc_id", "lang")
    )


@query(
    "q_text_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, CAST(length(text) AS INTEGER) + 1),
                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007
       ) AS fp
FROM documents
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash over the
    character stream (base 31, mod 1e9+7) — the building block of
    shingle/Rabin-Karp near-dup schemes. Expressed with sequence +
    aggregate higher-order functions: stays JVM-side, per-row map, no
    shuffle. (At petabyte scale the same fold over a binary column
    would move to a vectorized pandas_udf; the declared query keeps the
    oracle-checkable HOF form.)"""
    d = load(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(sequence(1, length(text)), CAST(0 AS BIGINT),"
        " (acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fp"))


# ---------------------------------------------------------------------------
# Per-source top-quality selection (FineWeb/DCLM-style curation)
# ---------------------------------------------------------------------------

TOPQ_PCT = 20  # keep the top 20% of each source by quality score


@query(
    "q_select_topq",
    oracle=f"""
WITH s AS ({_QUALITY_ORACLE}),
j AS (
  SELECT d.doc_id, d.source, s.quality_score
  FROM documents d JOIN s USING (doc_id)
),
r AS (
  SELECT doc_id, source, quality_score,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rn,
         count(*)     OVER (PARTITION BY source) AS n_src
  FROM j
)
SELECT doc_id, source, quality_score
FROM r WHERE rn <= (n_src * {TOPQ_PCT} + 99) // 100
""",
)
def q_select_topq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4i: per-source top-{TOPQ_PCT}% quality selection — the
    model-scored curation step of FineWeb-Edu / DCLM reduced to the
    repo's deterministic scorer: rank every document within its source
    by quality_score (6-dp floored, so cross-engine ties are exact,
    doc_id tiebreak) and keep the top ceil({TOPQ_PCT}% · n_source).
    Per-source (not global) selection is the point: a global cutoff
    would empty low-scoring sources entirely, while per-source rank
    preserves the mix while raising its floor — the same reason
    FineWeb filters per dump.

    100 TB shape: the scorer is an embarrassingly parallel projection
    (shared verbatim with q_text_quality); the rank is ONE window
    shuffle keyed by source carrying only (doc_id, source, score) —
    bodies never move. A production variant with a skewed giant source
    swaps row_number for the two-level top-k of q_win_running_scalable;
    the per-source count reuses the same exchange."""
    from pyspark.sql import Window

    scored = q_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = docs.join(scored, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    wc = Window.partitionBy("source")
    return (
        j.select(
            "doc_id",
            "source",
            "quality_score",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_src"),
        )
        .filter(F.col("rn") <= F.expr(f"(n_src * {TOPQ_PCT} + 99) DIV 100"))
        .select("doc_id", "source", "quality_score")
    )


@query(
    "q_langid_confusion",
    oracle=f"""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)
                   / len(toks) >= 0.02
              THEN 'en' ELSE 'und' END AS lang_pred
  FROM (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents)
),
m AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, lang_pred
),
t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM m GROUP BY lang)
SELECT m.lang, m.lang_pred, m.n,
       CAST(m.n * 10000 // t.n_lang AS BIGINT) AS share_bp
FROM m JOIN t USING (lang)
""",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation operator: the confusion matrix of the
    q_text_langid heuristic against the corpus's ground-truth ``lang``
    label — per (actual, predicted) cell the count and its share of
    the actual language's documents in basis points. This is the audit
    every pipeline classifier needs before its output gates data
    (the q_lsh_recall / q_ann_recall discipline applied to a
    CLASSIFIER instead of a retrieval fast path); per-language recall
    is read straight off the diagonal cells' share_bp.

    Shape: the prediction is q_text_langid's plan verbatim (shared
    stopword-ratio rule, no second tokenize pass definition to drift),
    one map-side-combinable (lang, pred) count, a per-language margin,
    and a broadcast join back onto ≤ |langs|² cells — only the count
    touches the corpus."""
    pred = q_text_langid(spark, sf_dir)
    m = pred.groupBy("lang", "lang_pred").agg(F.count("*").cast("long").alias("n"))
    t = m.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    return m.join(F.broadcast(t), "lang").select(
        "lang",
        "lang_pred",
        "n",
        F.expr("CAST(n * 10000 DIV n_lang AS BIGINT)").alias("share_bp"),
    )
