"""Corpus-level statistics for training-data curation: vocabulary
building, bigram counts, TF-IDF salient terms, and the source/language
mix report — the profiling pass that runs before filtering and
sampling decisions on a crawl corpus.

Built on the canonical whitespace tokenizer shared with
functions/text.py (same DuckDB mirror, so token semantics can't drift
across the text family).

Engine-stability: classic TF-IDF is float math (log); here the idf
factor is replaced by the exact rational n_docs/df and the score is
carried as BIGINT units — ``tf · n_docs · 10^6 DIV df`` — pure integer
arithmetic in both engines (Spark ``DIV`` ↔ DuckDB ``//``), so ranking
ties and hashes are deterministic by construction. Shares in the mix
report are integer ppm for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.hashes import (
    H31_P,
    duck_h31,
    duck_h62,
    spark_h31,
    spark_h62,
    universal_coeffs,
)
from kafka_to_parquet_spark.functions.rounding import int_units
from kafka_to_parquet_spark.functions.text import (
    _STOP_SQL,
    _TOKENS_SQL,
    tokens_col,
    word_ngrams,
    word_ngrams_sql,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

VOCAB_K = 50
BIGRAM_K = 30


@query(
    "q_vocab_topk",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY doc_id, word
)
SELECT word, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
FROM tf
GROUP BY word
ORDER BY df DESC, word
LIMIT {VOCAB_K}
""",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: the {K} tokens appearing in the most documents,
    with document frequency and total term frequency — the first
    artifact of tokenizer/stopword design over a new corpus.

    Shape: tokenize → explode → per-(doc, word) partial count (the
    map-side combine collapses each document's repeats before the
    shuffle), then a word-keyed agg whose output is |vocab|-sized.
    Top-k is TakeOrderedAndProject with the deterministic (df desc,
    word) order. At 100 TB the (doc, word) shuffle is the cost —
    exactly the word-count topology, nothing quadratic."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("word")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("tf_total"))
        .orderBy(F.desc("df"), "word")
        .limit(VOCAB_K)
    )


@query(
    "q_text_bigrams",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS i
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
)
SELECT a.word || ' ' || b.word AS bigram, CAST(count(*) AS BIGINT) AS n
FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT {BIGRAM_K}
""",
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token bigram counts, top {K} — the n-gram statistic
    behind boilerplate detection and collocation mining.

    Shape: the bigram list is built INSIDE the row by word_ngrams
    over the token array (JVM higher-order functions, no self-join,
    no positional shuffle), then explode → count. Output
    volume ≈ token count; the DuckDB oracle derives the same pairs via
    an ordinality self-join, which is its idiomatic equivalent. At
    100 TB this is the word-count topology again — explode and one
    keyed agg."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    bigrams = toks.select(F.explode(F.expr(word_ngrams("toks", 2))).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(BIGRAM_K)
    )


@query(
    "q_tfidf_top_term",
    oracle="""
WITH tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
  GROUP BY doc_id, word
),
dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
par AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         CAST((tf * n_docs * 1000000) // df AS BIGINT) AS u
  FROM tf JOIN dfq ON tf.word = dfq.word CROSS JOIN par
)
SELECT doc_id, word AS top_word, u AS score_units
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY u DESC, word) = 1
""".format(toks=_TOKENS_SQL),
)
def q_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-salient term per document under rational TF-IDF: score =
    tf · (n_docs/df) in exact 10^6 units (see module docstring) —
    document fingerprinting / topic-keyword extraction without a float
    in the ranking path.

    Shape: per-(doc, word) tf is the one data-sized shuffle; df is a
    |vocab|-row aggregate joined back on word; n_docs is a broadcast
    scalar. The per-doc argmax is ``min(struct(-u, word))`` — a single
    hash aggregate with constant state per document, NOT a row_number
    window (no second sort-shuffle of the full (doc, word) relation;
    the oracle uses the window form, which is DuckDB's idiom for the
    same selection)."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("word").agg(F.count("*").alias("df"))
    par = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfq, "word")
        .crossJoin(F.broadcast(par))
        .select(
            "doc_id",
            "word",
            F.expr("CAST(tf * n_docs * 1000000L DIV df AS BIGINT)").alias("u"),
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("u")).alias("neg_u"), F.col("word"))).alias("m")
    )
    return best.select(
        "doc_id",
        F.col("m.word").alias("top_word"),
        (-F.col("m.neg_u")).cast("long").alias("score_units"),
    )


@query(
    "q_corpus_mix",
    oracle="""
WITH par AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST((count(*) * 1000000) // max(total) AS BIGINT) AS share_ppm
FROM documents CROSS JOIN par
GROUP BY source, lang
""",
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × language mix report: document counts, char volume, and
    each cell's corpus share in integer ppm — the balance sheet a data
    curator reads before weighting/sampling a pretraining mix.

    Shape: one hash aggregate on the (source, lang) key (tiny
    cardinality → map-side partials collapse everything), with the
    corpus total broadcast as a 1-row cross join so the share is
    computed with exact integer arithmetic (ppm DIV, no float)."""
    docs = load(spark, sf_dir, "documents")
    par = docs.agg(F.count("*").alias("total"))
    return (
        docs.crossJoin(F.broadcast(par))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.expr("CAST(count(*) * 1000000L DIV max(total) AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# Shared doc-word term-frequency stage: the (doc_id, word, tf) table
# both LM-scoring queries start from. One definition per engine so the
# tokenizer and fencing can never drift between them (the graph
# module's _PAIRS_CTE discipline).
_DW_CTE = f"""dw AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf_doc
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY doc_id, word
)"""


def _doc_word_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _DW_CTE."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf_doc"))
    )


@query(
    "q_text_unigram_logprob",
    oracle=f"""
WITH {_DW_CTE},
vocab AS (SELECT word, CAST(sum(tf_doc) AS BIGINT) AS tf FROM dw GROUP BY word),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM vocab),
lp AS (
  SELECT word,
         CAST(floor(ln(tf * 1.0 / n_total) * 1000000 + 0.5) AS BIGINT) AS lp_mu
  FROM vocab CROSS JOIN tot
)
SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_toks,
       CAST(sum(tf_doc * lp_mu) AS BIGINT) / (1000000.0 * sum(tf_doc))
         AS avg_logprob
FROM dw JOIN lp USING (word)
GROUP BY doc_id
""",
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model quality score (the CCNet/Gopher
    family's cheapest perplexity filter): each document scored by the
    average log-probability of its tokens under the corpus's own
    unigram distribution. Junk documents (rare-token salad) score low;
    boilerplate scores high; the middle is natural text.

    Engine stability: the only transcendental, ``ln(tf/N)``, is
    evaluated once per VOCABULARY WORD (not per token instance) on an
    identical double in both engines, then immediately fenced to
    integer micro-nats — a 1-ulp libm divergence could only flip the
    fence if the true value sat within ~1e-10 relative of a micro-nat
    boundary, and everything downstream (per-doc weighted sum, token
    count) is exact integer arithmetic with one shared final division.

    Plan: per-doc term frequencies first (the explode collapses
    map-side into (doc, word, tf) — the corpus's token instances never
    shuffle raw); the vocabulary is a second, much smaller aggregate;
    the 1-row total broadcasts back; and the score join is
    vocabulary-sized against doc-word pairs (AQE broadcasts it at
    fixture scale; at 100 TB it hash-joins on word with both sides
    already combined). Two narrow exchanges, no token-instance
    shuffle."""
    dw = _doc_word_tf(spark, sf_dir)
    vocab = dw.groupBy("word").agg(F.sum("tf_doc").alias("tf"))
    tot = vocab.agg(F.sum("tf").alias("n_total"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        F.expr(
            "CAST(floor(ln(tf * 1.0 / n_total) * 1000000 + 0.5) AS BIGINT)"
        ).alias("lp_mu"),
    )
    return (
        dw.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf_doc").alias("n_toks"),
            (
                F.sum(F.col("tf_doc") * F.col("lp_mu")).cast("long")
                / (1000000.0 * F.sum("tf_doc"))
            ).alias("avg_logprob"),
        )
    )


@query(
    "q_text_entropy",
    oracle=f"""
WITH {_DW_CTE},
sized AS (
  SELECT doc_id, tf_doc,
         CAST(sum(tf_doc) OVER (PARTITION BY doc_id) AS BIGINT) AS n_toks
  FROM dw
)
SELECT doc_id, CAST(max(n_toks) AS BIGINT) AS n_toks,
       -CAST(sum(tf_doc * CAST(floor(ln(tf_doc * 1.0 / n_toks) * 1000000 + 0.5)
                               AS BIGINT)) AS BIGINT)
         / (1000000.0 * max(n_toks)) AS entropy
FROM sized GROUP BY doc_id
""",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the document's OWN token
    distribution, H = −Σ (tf/n)·ln(tf/n) — the information-density
    quality signal: template/repetition junk collapses toward 0,
    natural prose sits in a band, and random-token salad maxes out at
    ln(n_distinct). Complements q_text_repetition (which catches
    n-gram loops) with a distribution-level view.

    Engine stability: the one transcendental, ln(tf/n), is evaluated
    on an identical IEEE double (ratio of two exact integers) in both
    engines and immediately fenced to integer micro-nats; the per-doc
    accumulation is exact integer arithmetic with a single shared
    final division — the corpus_stats micro-nat discipline.

    Plan: token instances collapse map-side into (doc, word, tf)
    before any exchange; doc length comes from the same aggregate
    re-keyed by doc (a window in the oracle, an agg-join here — both
    doc-keyed, no token-instance shuffle). At 100 TB it is one
    (doc, word) exchange plus one doc-keyed combine."""
    dw = _doc_word_tf(spark, sf_dir)
    n = dw.groupBy("doc_id").agg(F.sum("tf_doc").alias("n_toks"))
    return (
        dw.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_toks").cast("long").alias("n_toks"),
            (
                -F.sum(
                    F.col("tf_doc")
                    * F.expr(
                        "CAST(floor(ln(tf_doc * 1.0 / n_toks) * 1000000 + 0.5)"
                        " AS BIGINT)"
                    )
                ).cast("long")
                / (1000000.0 * F.max("n_toks"))
            ).alias("entropy"),
        )
    )


# DSIR importance weighting: the target domain is the English slice of
# the corpus (a stand-in for "high-quality target distribution" — a
# real run would read the target from a second table). Laplace +1
# smoothing keeps target-absent words finite.
DSIR_TARGET_LANG = "en"


@query(
    "q_dsir_logratio",
    oracle=f"""
WITH {_DW_CTE},
tw AS (
  SELECT word, CAST(count(*) AS BIGINT) AS tf_t
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents
        WHERE lang = '{DSIR_TARGET_LANG}')
  GROUP BY word
),
vocab AS (
  SELECT dw.word, CAST(sum(dw.tf_doc) AS BIGINT) AS tf_c,
         CAST(coalesce(max(tw.tf_t), 0) AS BIGINT) AS tf_t
  FROM dw LEFT JOIN tw ON dw.word = tw.word
  GROUP BY dw.word
),
tot AS (
  SELECT CAST(sum(tf_c) AS BIGINT) AS n_c,
         CAST(sum(tf_t) AS BIGINT) + CAST(count(*) AS BIGINT) AS n_t
  FROM vocab
),
lr AS (
  SELECT word,
         CAST(floor((ln((tf_t + 1) * 1.0 / n_t) - ln(tf_c * 1.0 / n_c))
                    * 1000000 + 0.5) AS BIGINT) AS lr_mu
  FROM vocab CROSS JOIN tot
)
SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_toks,
       CAST(sum(tf_doc * lr_mu) AS BIGINT) / (1000000.0 * sum(tf_doc))
         AS avg_logratio
FROM dw JOIN lr USING (word)
GROUP BY doc_id
""",
)
def q_dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): each document's
    average per-token log-ratio ln(p_target / p_corpus) under unigram
    feature distributions — positive means the document looks more
    like the target domain than the corpus at large; resampling by
    these weights tilts a pretraining mix toward the target. Target
    here = the corpus's own '{DSIR_TARGET_LANG}' slice, Laplace-(+1)
    smoothed so target-absent words stay finite.

    Engine stability is inherited from q_text_unigram_logprob: both
    ln() calls are per-VOCABULARY-word on identical doubles, fenced to
    integer micro-nats before any per-doc accumulation; the per-doc
    weighted sum and the final single division are exact/identical.

    Plan: the same two narrow aggregates (doc-word tf, vocabulary) as
    the logprob query plus one vocabulary-sized LEFT join to the
    target slice's counts — the corpus's token instances never shuffle
    raw; the target slice re-scans documents with the lang filter
    pushed into the parquet scan. At 100 TB the target distribution is
    typically ~1000× smaller than the corpus — this plan keeps it a
    side input, never a second corpus pass."""
    docs = load(spark, sf_dir, "documents")
    dw = _doc_word_tf(spark, sf_dir)
    tw = (
        docs.filter(F.col("lang") == DSIR_TARGET_LANG)
        .select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("tf_t"))
    )
    vocab = (
        dw.groupBy("word")
        .agg(F.sum("tf_doc").alias("tf_c"))
        .join(tw, "word", "left")
        .select(
            "word",
            "tf_c",
            F.coalesce(F.col("tf_t"), F.lit(0)).cast("long").alias("tf_t"),
        )
    )
    tot = vocab.agg(
        F.sum("tf_c").cast("long").alias("n_c"),
        (F.sum("tf_t").cast("long") + F.count("*")).alias("n_t"),
    )
    lr = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        F.expr(
            "CAST(floor((ln((tf_t + 1) * 1.0 / n_t) - ln(tf_c * 1.0 / n_c))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("lr_mu"),
    )
    return (
        dw.join(lr, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf_doc").alias("n_toks"),
            (
                F.sum(F.col("tf_doc") * F.col("lr_mu")).cast("long")
                / (1000000.0 * F.sum("tf_doc"))
            ).alias("avg_logratio"),
        )
    )


# Shared doc-bigram term-frequency stage (same discipline as _DW_CTE):
# in-row word_ngrams on the Spark side, ordinality self-join in DuckDB.
_DWB_CTE = f"""w AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS i
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
),
dwb AS (
  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf_doc
  FROM (SELECT a.doc_id, a.word || ' ' || b.word AS bigram
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
  GROUP BY doc_id, bigram
)"""


def _doc_bigram_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _DWB_CTE: (doc_id, bigram, tf_doc) built in-row by
    word_ngrams — no self-join, no positional shuffle (the
    q_text_bigrams idiom, kept per-doc)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    return (
        toks.select("doc_id", F.explode(F.expr(word_ngrams("toks", 2))).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("tf_doc"))
    )


@query(
    "q_text_bigram_logprob",
    oracle=f"""
WITH {_DWB_CTE},
cb AS (
  SELECT bigram, CAST(sum(tf_doc) AS BIGINT) AS c2 FROM dwb GROUP BY bigram
),
cw AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM cb GROUP BY w1
),
lp AS (
  SELECT bigram,
         CAST(floor(ln(c2 * 1.0 / c1) * 1000000 + 0.5) AS BIGINT) AS lp_mu
  FROM cb JOIN cw ON split_part(bigram, ' ', 1) = w1
)
SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_bigrams,
       CAST(sum(tf_doc * lp_mu) AS BIGINT) / (1000000.0 * sum(tf_doc))
         AS avg_bigram_logprob
FROM dwb JOIN lp USING (bigram)
GROUP BY doc_id
""",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability LM score: each document's average
    ln p(w2|w1) = ln(c(w1,w2)/c(w1,·)) under the corpus's own bigram
    counts — one order sharper than q_text_unigram_logprob (word salad
    with plausible unigrams but improbable TRANSITIONS scores low
    here; the unigram filter can't see it). Self-scoring against the
    corpus means every document bigram exists in the counts, so no
    backoff branch is needed.

    Engine stability: the single ln() is per bigram TYPE on an
    identical ratio of exact integers, fenced to micro-nats; per-doc
    accumulation is exact integers + one shared final division.

    Plan: in-row bigram construction (word_ngrams, no self-join) →
    (doc, bigram, tf) partial-aggregated before its one exchange; the
    bigram and first-word count tables are vocabulary²-sized side
    inputs; the scoring join hash-partitions on bigram with both
    sides pre-combined. The corpus's token stream is never shuffled
    at instance grain."""
    dwb = _doc_bigram_tf(spark, sf_dir)
    cb = dwb.groupBy("bigram").agg(F.sum("tf_doc").alias("c2"))
    cw = (
        cb.groupBy(F.expr("split_part(bigram, ' ', 1)").alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    lp = cb.join(cw, F.expr("split_part(bigram, ' ', 1)") == F.col("w1")).select(
        "bigram",
        F.expr("CAST(floor(ln(c2 * 1.0 / c1) * 1000000 + 0.5) AS BIGINT)").alias(
            "lp_mu"
        ),
    )
    return (
        dwb.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf_doc").alias("n_bigrams"),
            (
                F.sum(F.col("tf_doc") * F.col("lp_mu")).cast("long")
                / (1000000.0 * F.sum("tf_doc"))
            ).alias("avg_bigram_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: constant-memory frequency estimation (heavy hitters)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 1024  # cells per row
CMS_TOPK = 20
# Universal-hash coefficients per sketch row, inlined as literals in
# both engines' SQL.
CMS_COEFFS = universal_coeffs("cms", CMS_D)


def _cms_cell_exprs() -> list[str]:
    """One cell expression per sketch row — valid in BOTH dialects."""
    return [f"(({a} * hw + {b}) % {H31_P}) % {CMS_W}" for a, b in CMS_COEFFS]


def _cms_oracle() -> str:
    cells = ", ".join(_cms_cell_exprs())
    return f"""
WITH tokcnt AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
h AS (SELECT word, cnt, ({duck_h31('word')}) AS hw FROM tokcnt),
cells AS (
  SELECT word, cnt, CAST(generate_subscripts(cs, 1) - 1 AS INTEGER) AS j,
         unnest(cs) AS cell
  FROM (SELECT word, cnt, [{cells}] AS cs FROM h)
),
sketch AS (SELECT j, cell, CAST(sum(cnt) AS BIGINT) AS c FROM cells GROUP BY j, cell),
top AS (SELECT word, cnt FROM tokcnt ORDER BY cnt DESC, word LIMIT {CMS_TOPK}),
tcells AS (
  SELECT c.word, c.cnt, c.j, c.cell FROM cells c JOIN top t ON c.word = t.word
)
SELECT tc.word, tc.cnt AS exact_cnt, CAST(min(s.c) AS BIGINT) AS cms_est
FROM tcells tc JOIN sketch s ON tc.j = s.j AND tc.cell = s.cell
GROUP BY tc.word, tc.cnt
"""


@query("q_heavy_hitters_cms", oracle=_cms_oracle())
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch, cross-checked against the
    exact counts: build a d×w = 4×1024 CMS over all token occurrences
    (deterministic md5-based universal hashes, coefficients inlined
    into both engines), then report the top-{K} tokens by exact count
    with both their exact frequency and the sketch's estimate (est ≥
    exact always; equal when the token's 4 cells saw no collisions).

    Why it matters at 100 TB: the sketch is CONSTANT memory (4 096
    cells) regardless of corpus size, and cell updates are
    map-side-combinable sums — partial sketches merge by cell-wise
    addition exactly like any hash aggregate, so frequency estimation
    over an arbitrarily large corpus costs one narrow shuffle of ≤
    4 096·#tasks partial rows. The exact count pass here exists only
    to expose the estimation error as data; a production pipeline
    ships the sketch alone.

    Plan: token counts (one explode + hash agg) feed both the sketch
    build (posexplode to (row, cell, cnt) then a 4 096-group agg) and
    the exact top-k (TakeOrderedAndProject); the estimate join
    broadcasts the {K}·4 lookup rows against the tiny sketch."""
    d = load(spark, sf_dir, "documents")
    tokcnt = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    h = tokcnt.select("word", "cnt", F.expr(spark_h31("word")).alias("hw"))
    cell_arr = F.array(*[F.expr(c) for c in _cms_cell_exprs()])
    cells = h.select(
        "word", "cnt", F.posexplode(cell_arr).alias("j", "cell")
    )
    sketch = cells.groupBy("j", "cell").agg(F.sum("cnt").alias("c"))
    top = tokcnt.orderBy(F.desc("cnt"), "word").limit(CMS_TOPK)
    tcells = cells.join(F.broadcast(top.select("word")), "word")
    return (
        tcells.join(sketch, ["j", "cell"])
        .groupBy("word", F.col("cnt").alias("exact_cnt"))
        .agg(F.min("c").cast("long").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Lexical diversity per corpus slice: type-token ratio
# ---------------------------------------------------------------------------


@query(
    "q_ttr_source",
    oracle=f"""
WITH tok AS (
  SELECT lang, source, unnest({_TOKENS_SQL}) AS word FROM documents
)
SELECT lang, source,
       CAST(count(DISTINCT word) AS BIGINT)      AS n_types,
       CAST(count(*) AS BIGINT)                  AS n_tokens,
       CAST(count(DISTINCT word) * 10000 // count(*) AS BIGINT) AS ttr_bp
FROM tok GROUP BY lang, source
""",
)
def q_ttr_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f: type-token ratio per (lang, source) slice — the lexical-
    diversity screen a corpus-mixing pipeline runs per source: a slice
    whose TTR collapses is template/boilerplate-generated text (few
    types, many tokens) and gets down-weighted before training. All
    integer outputs (ratio in basis points, floor division — both
    engines' // on positive ints).

    100 TB shape: one explode, then a single hash aggregate keyed
    (lang, source) with count + count(DISTINCT word). The distinct
    count is the expensive half at scale (Spark plans it as a
    two-phase expand/partial-agg — still map-side-combinable); a
    production variant swaps in approx_count_distinct to make the
    whole thing one narrow pass (precedent: q_agg_approx_distinct),
    the exact form here is what the oracle can value-check."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", "source", F.explode(tokens_col(F.col("text"))).alias("word"))
    return tok.groupBy("lang", "source").agg(
        F.count_distinct("word").cast("long").alias("n_types"),
        F.count("*").cast("long").alias("n_tokens"),
        F.expr("CAST(count(DISTINCT word) * 10000 DIV count(*) AS BIGINT)").alias(
            "ttr_bp"
        ),
    )


# ---------------------------------------------------------------------------
# Composite document-quality rules (Gopher-style)
# ---------------------------------------------------------------------------

# Integer-exact rule bounds. Mean-word-length bounds are expressed as
# cross-multiplied integers (4.25 <= chars/n <= 4.75  ==  17n <= 4c
# AND 4c <= 19n) so no engine ever divides. The window is tuned to the
# fixture vocabulary's observed mwl range [3.7, 5.3] so the rule
# actually SPLITS (~q10-q90) — a [3.5, 5.5] prose-style window passed
# every synthetic document, i.e. tested nothing.
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 80
GOPHER_MAX_TOPWORD_PCT = 10  # most common word <= 10% of tokens
GOPHER_MIN_STOP_TYPES = 2


@query(
    "q_quality_gopher",
    oracle=f"""
WITH {_DW_CTE},
st AS (
  SELECT doc_id,
         CAST(sum(tf_doc) AS BIGINT)              AS n_tokens,
         CAST(sum(len(word) * tf_doc) AS BIGINT)  AS tok_chars,
         CAST(max(tf_doc) AS BIGINT)              AS max_tf,
         CAST(count(*) FILTER (WHERE word IN {_STOP_SQL}) AS BIGINT) AS n_stop_types
  FROM dw GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} AS INTEGER) AS r_len,
       CAST(17 * n_tokens <= 4 * tok_chars AND 4 * tok_chars <= 19 * n_tokens AS INTEGER) AS r_mwl,
       CAST({GOPHER_MAX_TOPWORD_PCT} * max_tf <= n_tokens AS INTEGER) AS r_rep,
       CAST(n_stop_types >= {GOPHER_MIN_STOP_TYPES} AS INTEGER) AS r_stop,
       CAST(n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
            AND 17 * n_tokens <= 4 * tok_chars AND 4 * tok_chars <= 19 * n_tokens
            AND {GOPHER_MAX_TOPWORD_PCT} * max_tf <= n_tokens
            AND n_stop_types >= {GOPHER_MIN_STOP_TYPES} AS INTEGER) AS keep
FROM st
""",
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4h: composite rule-based quality filter in the Gopher/
    MassiveText style (Rae et al. 2021 §A1.1): per-document length
    bounds, mean-word-length window, most-common-word repetition cap,
    and a minimum count of distinct function words — each emitted as
    its own 0/1 flag plus the conjunctive ``keep``, so a curator can
    read per-rule rejection rates (the production debugging view)
    rather than one opaque boolean.

    All rules are integer-exact: the mean-word-length window [4.25,
    4.75] is cross-multiplied (17n <= 4·chars <= 19n), so no division
    ever happens and engines can't disagree on a boundary.

    100 TB shape: reuses the shared (doc_id, word, tf) stage — one
    explode, one (doc_id, word) hash aggregate (map-side combinable),
    one per-doc regroup; linear, shuffle carries pre-reduced term
    rows, never bodies. The rules themselves are a projection."""
    from kafka_to_parquet_spark.functions.text import STOPWORDS

    dw = _doc_word_tf(spark, sf_dir)
    st = dw.groupBy("doc_id").agg(
        F.sum("tf_doc").cast("long").alias("n_tokens"),
        F.sum(F.length("word") * F.col("tf_doc")).cast("long").alias("tok_chars"),
        F.max("tf_doc").cast("long").alias("max_tf"),
        F.sum(
            F.when(F.col("word").isin(STOPWORDS), 1).otherwise(0)
        ).cast("long").alias("n_stop_types"),
    )
    r_len = F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    r_mwl = (17 * F.col("n_tokens") <= 4 * F.col("tok_chars")) & (
        4 * F.col("tok_chars") <= 19 * F.col("n_tokens")
    )
    r_rep = GOPHER_MAX_TOPWORD_PCT * F.col("max_tf") <= F.col("n_tokens")
    r_stop = F.col("n_stop_types") >= GOPHER_MIN_STOP_TYPES
    return st.select(
        "doc_id",
        r_len.cast("int").alias("r_len"),
        r_mwl.cast("int").alias("r_mwl"),
        r_rep.cast("int").alias("r_rep"),
        r_stop.cast("int").alias("r_stop"),
        (r_len & r_mwl & r_rep & r_stop).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Temperature-based corpus resampling (source rebalancing)
# ---------------------------------------------------------------------------


@query(
    "q_sample_temperature",
    oracle=f"""
WITH srcn AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT) AS w
  FROM srcn
),
z AS (SELECT CAST(sum(w) AS BIGINT) AS z, CAST(sum(n) AS BIGINT) AS total FROM w),
rate AS (
  SELECT source,
         LEAST(10000, (5000 * total * w) // (z * n)) AS keep_bp
  FROM w CROSS JOIN z
)
SELECT d.doc_id, d.source, rate.keep_bp
FROM documents d JOIN rate USING (source)
WHERE {duck_h31("CAST(d.doc_id AS VARCHAR)")} % 10000 < rate.keep_bp
""",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5h: temperature-resampled corpus rebalancing — the
    source-rebalancing op of multilingual/multi-source pretraining
    mixes (mT5 / PaLM style): source s is kept with probability
    proportional to n_s^(alpha-1) with alpha = 0.5, i.e. target share
    ∝ sqrt(n_s), flattening the head sources and up-weighting the
    tail, scaled so the expected sample is half the corpus. The
    per-document gate is deterministic: md5-based h31(doc_id) mod
    10000 < keep_bp(source) — reproducible across runs, engines, and
    cluster sizes, unlike rand()-based sampling.

    Integer discipline: w_s = floor(sqrt(n_s·10^6)) (floor of an IEEE
    sqrt — exact in both engines), Z = Σw_s and keep_bp are pure
    BIGINT arithmetic with a single integer division, so no float sum
    order can flip a boundary. At ≥10^9-document scale the bp product
    5000·N·w needs 128-bit/decimal widening — the constants rescale
    (drop the 10^6 under the sqrt) without changing semantics.

    100 TB shape: the per-source histogram is a tiny map-side-combined
    aggregate (|sources| rows); the scalar (Z, N) is a 1-row cross
    join; rates broadcast back into the corpus scan, so the sample is
    one filter over one pass — no shuffle of document bodies at all."""
    docs = load(spark, sf_dir, "documents")
    srcn = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    w = srcn.select(
        "source",
        "n",
        F.expr("CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT)").alias("w"),
    )
    z = w.agg(
        F.sum("w").cast("long").alias("z"), F.sum("n").cast("long").alias("total")
    )
    rate = w.crossJoin(F.broadcast(z)).select(
        "source",
        F.least(
            F.lit(10000).cast("long"),
            F.expr("(5000 * total * w) DIV (z * n)"),
        ).alias("keep_bp"),
    )
    return (
        docs.join(F.broadcast(rate), "source")
        .filter(F.expr(f"{spark_h31('CAST(doc_id AS STRING)')} % 10000") < F.col("keep_bp"))
        .select("doc_id", "source", "keep_bp")
    )


# ---------------------------------------------------------------------------
# BPE merge learning — one statistics pass of Sennrich et al. 2016
# ---------------------------------------------------------------------------

BPE_MERGES_K = 20


@query(
    "q_bpe_merge_step",
    oracle=f"""
WITH tf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wf
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
p AS (
  SELECT substring(word, CAST(i AS INTEGER), 1) AS a,
         substring(word, CAST(i + 1 AS INTEGER), 1) AS b,
         wf
  FROM (SELECT word, wf, unnest(range(1, len(word))) AS i
        FROM tf WHERE len(word) >= 2)
)
SELECT a, b, CAST(sum(wf) AS BIGINT) AS cnt
FROM p GROUP BY a, b
ORDER BY cnt DESC, a, b
LIMIT {BPE_MERGES_K}
""",
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: ONE statistics pass of BPE merge
    learning (Sennrich et al. 2016 — the algorithm behind GPT/Llama
    vocabularies). Starting from character-level symbol sequences, the
    training loop repeatedly counts adjacent symbol pairs weighted by
    word frequency and merges the most frequent pair; this query emits
    the top-{BPE_MERGES_K} merge candidates of the first iteration
    (count DESC, pair lexicographic tiebreak — the deterministic merge
    order every BPE implementation fixes). Iterating is a driver-side
    loop over the same plan with the learned merges applied — the
    q_kmeans3 / PageRank iteration pattern.

    Shape: the corpus collapses to its word-frequency table FIRST (one
    map-side-combinable groupBy — pair statistics are per word TYPE
    weighted by frequency, so the char-level explode runs over the
    vocabulary, orders of magnitude smaller than the corpus), then
    each word fans out to its len−1 adjacent char pairs and one tiny
    (a, b) aggregate + TakeOrdered finishes. At 100 TB the corpus pass
    is the scan-bound word count; everything after is vocabulary-sized.
    """
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wf"))
    )
    pairs = (
        tf.filter(F.length("word") >= 2)
        .select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> named_struct('a', substring(word, i, 1),"
                    "                   'b', substring(word, i + 1, 1)))"
                )
            ).alias("p"),
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "wf")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("wf").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(BPE_MERGES_K)
    )


# ---------------------------------------------------------------------------
# Gini coefficient of the token-frequency distribution
# ---------------------------------------------------------------------------


@query(
    "q_gini_tokens",
    oracle=f"""
WITH tf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
r AS (
  SELECT f, row_number() OVER (ORDER BY f, word) AS i FROM tf
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(f) AS BIGINT) AS tot,
         CAST(sum(i * f) AS BIGINT) AS t
  FROM r
)
SELECT n AS n_types, tot AS n_tokens,
       CAST((2 * t - (n + 1) * tot) * 10000 // (n * tot) AS BIGINT) AS gini_bp
FROM s
""",
)
def q_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-concentration profile: the Gini coefficient of the token
    frequency distribution (0 = every word equally frequent, →1 = a
    few words dominate). Natural corpora sit near 0.8-0.9 (Zipf);
    a synthetic or over-filtered corpus shows up immediately as an
    out-of-band Gini — a one-number health check next to q_ttr_source
    and q_text_entropy.

    Exact integer form of the standard rank formula
    G = (2·Σᵢ i·fᵢ)/(n·Σf) − (n+1)/n with frequencies ranked
    ascending (word tiebreak): all terms are BIGINTs and the basis-
    point result is one integer floor-division, so both engines agree
    bit-for-bit. Ceiling: 2·Σ(i·f)·10⁴ must fit int64, i.e.
    n_types·n_tokens ≤ ~4.6e14 (a 1M-type vocabulary over a 400M-token
    shard); past that, compute per shard or drop to per-mille scale.

    Shape: the corpus collapses to its vocabulary (map-side-combinable
    word count); the rank pass is a single window over VOCABULARY rows
    (≪ corpus — the same vocabulary-sized ordered pass q_ks_test
    documents, with the q_win_running_scalable two-level prefix-sum as
    the 100 TB form); the final reduce is one row."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w = Window.orderBy(F.asc("f"), F.asc("word"))
    r = tf.select("f", F.row_number().over(w).cast("long").alias("i"))
    return r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("f").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("f")).cast("long").alias("t"),
    ).select(
        F.col("n").alias("n_types"),
        F.col("tot").alias("n_tokens"),
        F.expr(
            "CAST((2 * t - (n + 1) * tot) * 10000 DIV (n * tot) AS BIGINT)"
        ).alias("gini_bp"),
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (memorization / boilerplate screen)
# ---------------------------------------------------------------------------

NOVELTY_N = 3


def _novelty_oracle() -> str:
    # Trigram hash on a PLAIN column (i comes from an unnest, not a
    # lambda) — the q_dedup_span_strip oracle structure, so duck_h31's
    # inner lambda can never shadow an outer binding.
    th = duck_h62(f"array_to_string(t[i:i+{NOVELTY_N - 1}], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
tri AS MATERIALIZED (
  SELECT doc_id, {th} AS th
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {NOVELTY_N} + 2)) AS i
        FROM toks WHERE len(t) >= {NOVELTY_N})
),
nd AS (SELECT th, count(DISTINCT doc_id) AS ndocs FROM tri GROUP BY th)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN nd.ndocs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN nd.ndocs = 1 THEN 1 ELSE 0 END) * 10000
              // count(*) AS BIGINT) AS novelty_bp
FROM tri JOIN nd USING (th)
GROUP BY tri.doc_id
"""


@query("q_ngram_novelty", oracle=_novelty_oracle())
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document {NOVELTY_N}-gram novelty: the fraction of a
    document's {NOVELTY_N}-grams appearing in NO other document, in
    basis points. Low novelty flags boilerplate/templated/near-copied
    text that document-level dedup missed; the complement of the
    q_dedup_substring duplication profile (that query asks "how much
    of me is copied", this one "how much of me is mine"), and the
    standard memorization screen run before eval-set construction.

    Both engines share the 62-bit md5 trigram-hash universe
    (spark_h62 ↔ duck_h62, widened from 31 bits after the round-10
    sf≈10 collision measurement), so any residual collision merges the same two
    trigrams on both sides and every output column is an integer.

    Shape (round-14 rewrite — no corpus-sized join-back): explode to
    (doc, trigram-hash) longs — hashes, never strings — consumed by
    EXACTLY ONE aggregate, groupBy(hash){count, min(doc), max(doc)}
    (partial map-side combine; a hash lives in one document iff
    min == max, which replaces the expand-planned count_distinct).
    The ndocs == 1 survivors — novel-hash rows only, far fewer than
    postings — re-aggregate by their single owning doc for n_novel,
    while n_ngrams needs no explode at all: position i yields exactly
    one trigram, so it is size(toks) - {NOVELTY_N} + 1 straight off
    the document row. The final join attaches the novel counts to the
    per-doc trigram counts — both sides are one row per doc. vs the
    r13 plan this removes the eager localCheckpoint write of the
    posting table, its RAW re-exchange for the hash join back, and
    the post-join corpus-row aggregate (guide §2.4: the join-back and
    its exchanges carried information — which doc owns a unique hash
    — that the hash aggregate already had). Linear in corpus tokens,
    no pairwise stage.

    Deliberate tradeoff (round-14, documented round-15 per the
    advisor): ``toks`` has TWO consumers (counts and tri) and Catalyst
    has no cross-subtree CSE, so the corpus scan + regex tokenization
    execute twice per call. Measured cheaper than the r13 alternative
    (an eager localCheckpoint write of the posting table) at every
    decade tried; if a future profile shows the double tokenize
    dominating, derive n_ngrams from the tri aggregate instead of
    re-adding a materialization boundary."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= NOVELTY_N
    )
    counts = toks.select(
        "doc_id",
        (F.size("toks") - F.lit(NOVELTY_N - 1)).cast("long").alias("n_ngrams"),
    )
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"transform({word_ngrams('toks', NOVELTY_N)}, g -> {spark_h62('g')})")
        ).alias("th"),
    )
    novel = (
        tri.groupBy("th")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("doc_id").alias("dmin"),
            F.max("doc_id").alias("dmax"),
        )
        .filter(F.col("dmin") == F.col("dmax"))
        .groupBy(F.col("dmin").alias("doc_id"))
        .agg(F.sum("c").cast("long").alias("n_novel"))
    )
    return (
        counts.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_novel",
            F.expr("CAST(n_novel * 10000 DIV n_ngrams AS BIGINT)").alias(
                "novelty_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law slope of the rank-frequency curve
# ---------------------------------------------------------------------------


@query(
    "q_zipf_slope",
    oracle=f"""
WITH tf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
r AS (
  SELECT CAST(floor(ln(row_number() OVER (ORDER BY f DESC, word)) * 1000000 + 0.5)
              AS BIGINT) AS x,
         CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT) AS y
  FROM tf
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM r
)
SELECT n AS n_types,
       CAST(floor((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * 1000000 + 0.5)
            AS BIGINT) AS slope_micro
FROM s
""",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law diagnostic: the least-squares slope of the log-log
    rank-frequency curve — natural corpora follow Zipf with slope
    ≈ −1; a synthetic, templated, or over-deduplicated corpus shows a
    flat (→0) slope. Read next to q_gini_tokens: Gini measures
    concentration, this measures the SHAPE of the decay.

    Engine stability (the corpus_stats micro-nat discipline): the only
    transcendentals, ln(rank) and ln(freq), are each ONE libm call
    fenced immediately to integer micro-nats; every regression moment
    (Σx, Σy, Σxy, Σx²) is then an exact BIGINT, and the final slope is
    a single identical double expression on identical integers (the
    q_chi2_independence pattern). Ceiling: Σxy at micro-nat scale
    holds ~10⁴ vocabulary types per shard in int64; larger vocabularies
    re-fence at milli-nats (documented, same expression).

    Shape: vocabulary-sized everything — the corpus collapses to word
    counts map-side, the rank is the q_gini_tokens ordered pass over
    vocabulary rows (two-level prefix-sum at 100 TB), and the
    regression is one global aggregate row."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("word"))
    # rank first (window), then fence both logs — one expression each.
    ranked = tf.select(
        F.row_number().over(w).cast("long").alias("rk"), "f"
    ).select(
        F.expr("CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").alias("x"),
        F.expr("CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").alias("y"),
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.expr(
            "CAST(floor((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# Dataset card: per-source curation profile
# ---------------------------------------------------------------------------

_LANG_H_TERM = (
    "CAST(round(1000000 * ((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)))"
    " AS BIGINT)"
)


@query(
    "q_dataset_card",
    oracle=f"""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT source, lang, c, chars,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM cells
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(sum(chars) * 100 // max(n) AS BIGINT) AS mean_chars_c,
       CAST(sum({_LANG_H_TERM}) AS BIGINT) AS lang_h_micro
FROM tot
GROUP BY source
""",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: document count, language count, total
    and mean length, and the language-mix Shannon entropy in integer
    micro-nats — the one-page profile a curation pipeline publishes
    alongside each corpus slice (HuggingFace dataset cards, Dolma's
    per-source summaries). Entropy is the headline number: 0 means a
    monolingual source, ln(|langs|) a uniform mix — the first check
    that a "web-en" slice actually is.

    Integer discipline: per-(source, lang) terms (c/n)·ln(n/c) are
    mirrored double expressions over exact BIGINTs rounded to
    micro-nats BEFORE the per-source sum (q_mutual_information's
    rule); the mean is an integer centi-char division.

    Shape: ONE map-side-combinable aggregate collapses the corpus to
    ≤|source|·|lang| cells; the per-source window and final group run
    over those cells only. At 100 TB this is a single shuffle of
    bounded partials — the cheapest profile the semantics admit."""
    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )
    tot = cells.select(
        "source", "lang", "c", "chars",
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias("n"),
    )
    return tot.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.expr("CAST(sum(chars) * 100 DIV max(n) AS BIGINT)").alias("mean_chars_c"),
        F.sum(F.expr(_LANG_H_TERM)).cast("long").alias("lang_h_micro"),
    )


# ---------------------------------------------------------------------------
# Token-budget planning under a temperature-rebalanced mix
# ---------------------------------------------------------------------------

MIX_BUDGET_TOKENS = 1_000_000_000  # planning target: 1B training tokens


@query(
    "q_mix_token_budget",
    oracle=f"""
WITH tok AS (
  SELECT source, CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS toks,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
r AS (
  SELECT source, n_docs, toks,
         CAST(round(1000000 * sqrt(CAST(toks AS DOUBLE))) AS BIGINT) AS rt
  FROM tok
),
t AS (SELECT *, CAST(sum(rt) OVER () AS BIGINT) AS rtot FROM r)
SELECT source, n_docs, toks,
       CAST(rt * 10000 // rtot AS BIGINT) AS share_bp,
       CAST({MIX_BUDGET_TOKENS} * rt // rtot AS BIGINT) AS alloc_tokens,
       CAST(({MIX_BUDGET_TOKENS} * rt // rtot) * 1000 // toks AS BIGINT) AS epochs_milli
FROM t
""",
)
def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget plan for a √-temperature source mix at a fixed
    1B-token training target: each source's target share ∝ √(its
    token count) (the mT5/PaLM rebalancing q_sample_temperature
    applies at the document level, here planned at the TOKEN level),
    its allocated token budget, and the resulting epochs over its data
    in milli-epochs — epochs_milli > 1000 is the overfit flag: the mix
    wants more tokens from that source than it has, i.e. the source
    will repeat. This is the table a pretraining-data planner reads
    before launching a run (Hoffmann-style budget splits).

    Engine stability: per-source token counts are exact BIGINTs; the
    ONE irrational step (√toks) is a mirrored double micro-rounded to
    BIGINT per source BEFORE the cross-source total, so the share
    denominator is an exact integer sum (the q_mutual_information
    ordering rule) and every downstream quantity is integer division.

    Shape: one tokenize+count aggregate collapses the corpus to
    |sources| rows; the window total and plan arithmetic run on those
    rows. At 100 TB the toks aggregate is the only corpus pass —
    map-side combinable on (source). Ceiling: BUDGET·rt stays in
    int64 through ~10^12 corpus tokens at the 10^6 sqrt scale; past
    that, drop the sqrt fence to 10^3 units (same plan, one constant)."""
    tok = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(tokens_col(F.col("text")))).cast("long").alias("toks"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    r = tok.select(
        "source",
        "n_docs",
        "toks",
        F.expr("CAST(round(1000000 * sqrt(CAST(toks AS DOUBLE))) AS BIGINT)").alias(
            "rt"
        ),
    )
    t = r.select(
        "*", F.sum("rt").over(Window.partitionBy()).cast("long").alias("rtot")
    )
    return t.select(
        "source",
        "n_docs",
        "toks",
        F.expr("CAST(rt * 10000 DIV rtot AS BIGINT)").alias("share_bp"),
        F.expr(f"CAST({MIX_BUDGET_TOKENS} * rt DIV rtot AS BIGINT)").alias(
            "alloc_tokens"
        ),
        F.expr(
            f"CAST(({MIX_BUDGET_TOKENS} * rt DIV rtot) * 1000 DIV toks AS BIGINT)"
        ).alias("epochs_milli"),
    )


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap (source similarity matrix)
# ---------------------------------------------------------------------------


@query(
    "q_source_vocab_overlap",
    oracle=f"""
WITH sv AS (
  SELECT DISTINCT source, word
  FROM (SELECT source, unnest({_TOKENS_SQL}) AS word FROM documents)
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vsz FROM sv GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_common,
       CAST(za.vsz + zb.vsz - i.n_common AS BIGINT) AS n_union,
       {int_units('CAST(i.n_common AS DOUBLE) / (za.vsz + zb.vsz - i.n_common)')}
         AS jaccard_mu
FROM inter i
JOIN sz za ON za.source = i.src_a
JOIN sz zb ON zb.source = i.src_b
ORDER BY i.src_a, i.src_b
""",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between every pair of sources — the
    source-similarity matrix a curation pipeline consults before
    weighting a corpus mix (two crawls sharing 90% of their vocabulary
    are near-redundant; a low-overlap source adds diversity).

    Engine stability: intersections and unions are exact integer set
    sizes over the canonical tokenizer; the only double is the final
    Jaccard ratio of two BIGINTs, floor-rounded to micro units.

    Shape: distinct (source, word) collapses the corpus map-side to
    ≤ |sources|·|vocab| rows; the self-join key is the word, whose
    per-key match size is capped by |sources| (20), so the pair stage
    is |vocab|·C(|sources|,2) at worst — bounded by vocabulary, not
    corpus size. Size lookups broadcast (|sources| rows). At 100 TB
    the only corpus-sized stage is the tokenize+distinct pass."""
    docs = load(spark, sf_dir, "documents")
    sv = (
        docs.select("source", F.explode(tokens_col(F.col("text"))).alias("word"))
        .distinct()
    )
    sz = sv.groupBy("source").agg(F.count("*").cast("long").alias("vsz"))
    a, b = sv.alias("a"), sv.alias("b")
    inter = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("vsz").alias("vsz_a"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("vsz").alias("vsz_b"))
    return (
        inter.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.expr("CAST(vsz_a + vsz_b - n_common AS BIGINT)").alias("n_union"),
            F.expr(
                int_units("CAST(n_common AS DOUBLE) / (vsz_a + vsz_b - n_common)")
            ).alias("jaccard_mu"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps'-law checkpoints)
# ---------------------------------------------------------------------------

GROWTH_BUCKETS = 20


@query(
    "q_vocab_growth",
    oracle=f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
nt AS (
  SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS ntok FROM documents
),
fo AS (
  SELECT word, min(doc_id) AS fd
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
nw AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS neww FROM fo GROUP BY fd),
per AS (
  SELECT CAST(nt.doc_id * {GROWTH_BUCKETS} // (mx.m + 1) AS BIGINT) AS bucket,
         nt.ntok, coalesce(nw.neww, 0) AS neww
  FROM nt CROSS JOIN mx LEFT JOIN nw ON nw.doc_id = nt.doc_id
),
bk AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS toks, CAST(sum(neww) AS BIGINT) AS neww
  FROM per GROUP BY bucket
)
SELECT bucket,
       CAST(sum(n_docs) OVER w AS BIGINT) AS docs_cum,
       CAST(sum(toks) OVER w AS BIGINT) AS tokens_cum,
       CAST(sum(neww) OVER w AS BIGINT) AS vocab_cum
FROM bk
WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY bucket
""",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): cumulative distinct
    vocabulary vs cumulative tokens at {GROWTH_BUCKETS} fixed
    checkpoints of the doc_id ingest order — the saturation diagnostic
    that tells a corpus builder whether more of the same source still
    adds new types or only repeats (flattening curve ⇒ diminishing
    lexical returns).

    The naive cumulative-distinct is a running set — quadratic or
    stateful. The scale-safe identity: a word contributes to the
    vocabulary from its FIRST occurrence on, so vocab(≤d) = #{words
    with min(doc_id) ≤ d} — first occurrences are a min-aggregate,
    per-checkpoint news are integer sums, and the cumulative is a
    window over a FIXED number of bucket rows (doc-id range split into
    {GROWTH_BUCKETS} equal buckets via exact integer division against
    the broadcast max id — bucket count doesn't grow with N, so the
    single-partition window is 20 rows at any scale). All integers.

    Shape: one tokenize+explode pass feeds both the per-word min and
    the per-doc token counts (map-side combinable); everything after
    is bucket-sized. At 100 TB: two corpus-keyed shuffles ((doc,word)
    min + per-doc counts), then constant-size arithmetic."""
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    nt = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("ntok")
    )
    fo = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("fd"))
    )
    nw = fo.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").cast("long").alias("neww")
    )
    per = (
        nt.crossJoin(F.broadcast(mx))
        .join(nw, "doc_id", "left")
        .select(
            F.expr(f"CAST(doc_id * {GROWTH_BUCKETS} DIV (m + 1) AS BIGINT)").alias(
                "bucket"
            ),
            "ntok",
            F.coalesce(F.col("neww"), F.lit(0)).alias("neww"),
        )
    )
    bk = per.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("toks"),
        F.sum("neww").cast("long").alias("neww"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return bk.select(
        "bucket",
        F.sum("n_docs").over(w).cast("long").alias("docs_cum"),
        F.sum("toks").over(w).cast("long").alias("tokens_cum"),
        F.sum("neww").over(w).cast("long").alias("vocab_cum"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# CMS error profile across the frequency spectrum (sketch audit)
# ---------------------------------------------------------------------------


@query(
    "q_cms_error_bands",
    oracle=f"""
WITH tokcnt AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
h AS (SELECT word, cnt, ({duck_h31('word')}) AS hw FROM tokcnt),
cells AS (
  SELECT word, cnt, CAST(generate_subscripts(cs, 1) - 1 AS INTEGER) AS j,
         unnest(cs) AS cell
  FROM (SELECT word, cnt, [{", ".join(_cms_cell_exprs())}] AS cs FROM h)
),
sketch AS (SELECT j, cell, CAST(sum(cnt) AS BIGINT) AS c FROM cells GROUP BY j, cell),
est AS (
  SELECT ce.word, ce.cnt, CAST(min(s.c) AS BIGINT) AS est
  FROM cells ce JOIN sketch s ON ce.j = s.j AND ce.cell = s.cell
  GROUP BY ce.word, ce.cnt
)
SELECT CAST(length(bin(cnt)) - 1 AS INTEGER) AS band,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(cnt) AS BIGINT) AS exact_mass,
       CAST(sum(est - cnt) * 1000000 // sum(cnt) AS BIGINT) AS over_ppm
FROM est
GROUP BY band
ORDER BY band
""",
)
def q_cms_error_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch error profile over the WHOLE vocabulary, banded
    by true frequency (band = ⌊log₂ cnt⌋): per band, how many words the
    {CMS_D}×{CMS_W} sketch estimates exactly and the aggregate relative
    overestimate in ppm. This is the audit that quantifies the CMS
    guarantee the q_heavy_hitters_cms docstring asserts — heavy bands
    should be near-exact (collisions add little relative to a large
    count), tail bands absorb the collision mass — so the sketch's
    fitness for a threshold decision is a measured property, not a
    hope. Same discipline as q_ann_recall / q_lsh_recall, applied to
    the frequency-sketch fast path.

    Engine stability: ALL integers — the band comes from the binary-
    string length of the exact count (no log2 float edge), estimates
    are integer cell minima over the shared deterministic hash
    machinery (coefficients and cell expressions literally shared with
    q_heavy_hitters_cms), and over_ppm is BIGINT division.

    Shape: one tokenize pass to vocab counts; the cells table is
    |vocab|·{CMS_D} rows; the sketch is 4 096 cells (broadcast back);
    output is ≤ ~20 band rows. The exact-count leg exists to expose
    the error — production ships the sketch alone."""
    d = load(spark, sf_dir, "documents")
    tokcnt = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    h = tokcnt.select("word", "cnt", F.expr(spark_h31("word")).alias("hw"))
    cells = h.select(
        "word", "cnt", F.posexplode(F.array(*[F.expr(c) for c in _cms_cell_exprs()])).alias("j", "cell")
    )
    sketch = cells.groupBy("j", "cell").agg(F.sum("cnt").cast("long").alias("c"))
    est = (
        cells.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("word", "cnt")
        .agg(F.min("c").cast("long").alias("est"))
    )
    return (
        est.groupBy(
            F.expr("CAST(length(bin(cnt)) - 1 AS INT)").alias("band")
        )
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.expr("CASE WHEN est = cnt THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_exact"),
            F.sum("cnt").cast("long").alias("exact_mass"),
            F.expr(
                "CAST(sum(est - cnt) * 1000000 DIV sum(cnt) AS BIGINT)"
            ).alias("over_ppm"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Within-document co-occurrence PMI over the head vocabulary
# ---------------------------------------------------------------------------

COOC_K = 30  # head-vocabulary size (by document frequency)

# Mirrored PMI in integer micro-nats: ln(N * c_ab / (df_a * df_b)) from
# four exact BIGINTs — the q_mutual_information ln discipline applied
# per pair (each pair's value is rounded independently; no cross-cell
# float sum exists here at all).
_PMI_MICRO = (
    "CAST(round(1000000 * ln((CAST(c_ab AS DOUBLE) * n_docs) "
    "/ (CAST(df_a AS DOUBLE) * df_b))) AS BIGINT)"
)


@query(
    "q_cooccur_pmi",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS dfreq FROM dw GROUP BY word),
top AS (SELECT word, dfreq FROM df ORDER BY dfreq DESC, word LIMIT {COOC_K}),
dt AS (SELECT dw.doc_id, dw.word FROM dw JOIN top ON dw.word = top.word),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
p AS (
  SELECT a.word AS word_a, b.word AS word_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY 1, 2
)
SELECT word_a, word_b, c_ab,
       da.dfreq AS df_a, db.dfreq AS df_b,
       {_PMI_MICRO} AS pmi_micro
FROM p
JOIN top da ON word_a = da.word
JOIN top db ON word_b = db.word
CROSS JOIN n
ORDER BY word_a, word_b
""",
)
def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of head-vocabulary word pairs that
    co-occur within a document — the collocation detector behind
    phrase mining and embedding-quality checks (high-PMI pairs are the
    multiword expressions a tokenizer should not split; near-zero PMI
    on frequent pairs flags word-salad corpora).

    The pair space is bounded BEFORE any pairwise work: only the top
    {COOC_K}-by-document-frequency words participate (deterministic
    total order: df DESC, word ASC), so each document contributes at
    most C({COOC_K},2) = 435 pairs regardless of its length, and the
    output is capped at 435 rows at ANY corpus size — the unbounded
    all-pairs PMI is exactly the quadratic blowup this head-filter
    exists to avoid (tail co-occurrence belongs to sketch territory).

    Engine stability: document frequencies, pair counts, and the
    corpus size are exact BIGINTs; each pair's PMI is ONE mirrored
    double ln-expression over those integers, micro-rounded per pair
    (no cross-pair float aggregation exists).

    Shape: one distinct over (doc, word), one small df aggregate, a
    broadcast head-vocabulary semi-filter, then a doc-keyed self-join
    whose per-key fan-out is ≤ {COOC_K}; final marginal joins run over
    ≤435 rows against the ≤{COOC_K}-row broadcast head table."""
    d = load(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
        .distinct()
    )
    df = dw.groupBy("word").agg(F.count("*").cast("long").alias("dfreq"))
    top = df.orderBy(F.col("dfreq").desc(), "word").limit(COOC_K)
    dt = dw.join(F.broadcast(top.select("word")), "word").select("doc_id", "word")
    n = d.agg(F.count("*").cast("long").alias("n_docs"))
    a, b = dt.alias("a"), dt.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .agg(F.count("*").cast("long").alias("c_ab"))
    )
    da = F.broadcast(top.select(F.col("word").alias("word_a"), F.col("dfreq").alias("df_a")))
    db = F.broadcast(top.select(F.col("word").alias("word_b"), F.col("dfreq").alias("df_b")))
    return (
        p.join(da, "word_a")
        .join(db, "word_b")
        .crossJoin(F.broadcast(n))
        .select(
            "word_a", "word_b", "c_ab", "df_a", "df_b",
            F.expr(_PMI_MICRO).alias("pmi_micro"),
        )
        .orderBy("word_a", "word_b")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-cardinality sketch + exactness audit
# ---------------------------------------------------------------------------

KMV_K = 256  # sketch size: expected relative error ~ 1/sqrt(K-2) ≈ 6%


@query(
    "q_kmv_distinct",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT source, word
  FROM (SELECT source, unnest({_TOKENS_SQL}) AS word FROM documents)
),
hv AS (
  SELECT source, hv FROM (SELECT DISTINCT source, {duck_h31("word")} AS hv FROM dw)
  UNION ALL
  SELECT 'ALL' AS source, hv FROM (SELECT DISTINCT {duck_h31("word")} AS hv FROM dw)
),
ex AS (
  SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact FROM dw GROUP BY source
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT word) AS BIGINT) FROM dw
),
r AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
  FROM hv
),
k AS (SELECT source, CAST(hv AS BIGINT) AS h_k FROM r WHERE rk = {KMV_K}),
est AS (
  SELECT ex.source, ex.n_exact,
         CAST(coalesce(CAST({KMV_K} - 1 AS BIGINT) * {H31_P} // k.h_k, ex.n_exact)
              AS BIGINT) AS est
  FROM ex LEFT JOIN k ON ex.source = k.source
)
SELECT source, n_exact, est,
       CAST(abs(est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
FROM est ORDER BY source
""",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-vocabulary estimate per source
    AND for the all-source union, each next to its exact count and the
    realized error in ppm — the mergeable distinct-count sketch
    (Bar-Yossef et al.): keep the K smallest hash values; the K-th
    smallest h_K estimates D ≈ (K−1)·M/h_K. The union row demonstrates
    the property HLL is usually bought for — per-source sketches merge
    by just pooling hashes — and the audit columns make the sketch's
    guarantee a measured number (the q_ann_recall/q_lsh_recall
    discipline applied to cardinality estimation; complements the
    rows-only HLL++ q_agg_approx_distinct with a fully
    oracle-checkable sketch, since KMV's estimate is a deterministic
    integer function of the data).

    Engine stability: hash values are the shared 31-bit md5 fold
    (functions/hashes.py) — SKETCH-TIER BY DESIGN per hashes.py:58:
    KMV is a cardinality sketch, so the 31-bit space is the point
    (collisions bias the estimate, and the audit columns MEASURE that
    bias against the exact count; identity fingerprints elsewhere use
    the 62-bit ``h62``). Ranks are integer row_numbers over the
    (source, hash) total order, and the estimate (K−1)·M // h_K and
    error are BIGINT divisions — no float exists in the plan.
    Saturated strata (fewer than K distinct hashes) fall back to their
    exact count via the LEFT JOIN + coalesce.

    Shape: one distinct over (source, word), per-source rank windows
    over VOCABULARY-sized rows (not corpus rows). The rank-everything
    form is the oracle-mirrorable demo; the production form keeps only
    a K-row heap per partition (Spark: min_by/top-K aggregate) —
    same output contract."""
    d = load(spark, sf_dir, "documents")
    dw = d.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("word")
    ).distinct()
    per = dw.select("source", F.expr(spark_h31("word")).alias("hv")).distinct()
    alls = dw.select(F.expr(spark_h31("word")).alias("hv")).distinct().select(
        F.lit("ALL").alias("source"), "hv"
    )
    hv = per.unionByName(alls)
    ex = (
        dw.groupBy("source")
        .agg(F.countDistinct("word").cast("long").alias("n_exact"))
        .unionByName(
            dw.agg(
                F.lit("ALL").alias("source"),
                F.countDistinct("word").cast("long").alias("n_exact"),
            )
        )
    )
    r = hv.select(
        "source",
        "hv",
        F.row_number().over(Window.partitionBy("source").orderBy("hv")).alias("rk"),
    )
    k = r.filter(F.col("rk") == KMV_K).select(
        "source", F.col("hv").cast("long").alias("h_k")
    )
    est = (
        ex.join(F.broadcast(k), "source", "left")
        .select(
            "source",
            "n_exact",
            F.expr(
                f"CAST(coalesce(CAST({KMV_K} - 1 AS BIGINT) * {H31_P} DIV h_k,"
                " n_exact) AS BIGINT)"
            ).alias("est"),
        )
    )
    return est.select(
        "source",
        "n_exact",
        "est",
        F.expr("CAST(abs(est - n_exact) * 1000000 DIV n_exact AS BIGINT)").alias(
            "err_ppm"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Word burstiness (Church–Gale cf/df) over the corpus vocabulary
# ---------------------------------------------------------------------------

BURST_MIN_DF = 5  # ignore ultra-rare words: cf/df of a df=1 word is just tf
BURST_TOP = 50


@query(
    "q_word_burstiness",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
),
s AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM t GROUP BY word
)
SELECT word, cf, df, CAST(cf * 1000000 // df AS BIGINT) AS burst_ppm
FROM s WHERE df >= {BURST_MIN_DF}
ORDER BY burst_ppm DESC, word
LIMIT {BURST_TOP}
""",
)
def q_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness of each vocabulary word — total
    occurrences per CONTAINING document (cf/df, integer ppm), top-50
    — separating topical words that cluster hard inside few documents
    (high cf/df: likely content/boilerplate markers worth dedup
    attention) from function words spread thin everywhere (cf/df → 1).
    The df floor keeps one-document flukes out of the ranking.

    Engine stability: cf and df are exact counts from one aggregate;
    the ratio is a BIGINT ppm division; the top-50 order carries the
    word as tiebreak (total order → identical LIMIT in both engines).

    Shape: one token explode + ONE combined aggregate producing both
    cf and df per word (count + count distinct share the word-keyed
    exchange), then a vocabulary-sized sort bounded to 50 rows
    (TakeOrderedAndProject — no global sort materializes). At 100 TB:
    one shuffle of (word, doc) pairs."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    s = t.groupBy("word").agg(
        F.count("*").cast("long").alias("cf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        s.filter(F.col("df") >= BURST_MIN_DF)
        .select(
            "word", "cf", "df",
            F.expr("CAST(cf * 1000000 DIV df AS BIGINT)").alias("burst_ppm"),
        )
        .orderBy(F.col("burst_ppm").desc(), "word")
        .limit(BURST_TOP)
    )


# ---------------------------------------------------------------------------
# Head-vocabulary token coverage curve (tokenizer budget planning)
# ---------------------------------------------------------------------------

COVER_KS = [10, 100, 1000]  # head sizes; clamped to the actual vocabulary


@query(
    "q_vocab_coverage",
    oracle=f"""
WITH c AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
),
r AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, word) AS rk,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, word) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS tot,
         CAST(count(*) OVER () AS BIGINT) AS v
  FROM c
),
ks AS (SELECT unnest([{", ".join(str(k) for k in COVER_KS)}]) AS k)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(least(ks.k, r.v) AS BIGINT) AS k_eff,
       r.cum AS head_tokens, r.tot AS total_tokens,
       CAST(r.cum * 1000000 // r.tot AS BIGINT) AS cover_ppm
FROM ks JOIN r ON r.rk = least(ks.k, r.v)
ORDER BY k
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage of the top-k vocabulary head at k = 10/100/1000
    (clamped to the actual vocabulary): what share of ALL corpus
    tokens the k most frequent words account for — the coverage curve
    that sizes tokenizer vocabularies and stopword lists (Zipf's law
    makes this curve brutally concave; q_zipf_slope fits the exponent,
    this measures the budget consequence).

    Engine stability: counts, ranks, and cumulative sums are exact
    BIGINTs over the (count DESC, word) total order — the word
    tiebreak makes rank and running sum identical in both engines;
    coverage is BIGINT ppm division.

    Shape: one token-count aggregate, then rank/cumsum windows over
    the VOCABULARY (not the corpus), probed at 3 fixed checkpoints via
    an equality join on rank. At 100 TB: one shuffle of (word, count)
    partials; the window input is vocabulary-sized."""
    d = load(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wo = Window.orderBy(F.col("cnt").desc(), "word")
    wg = Window.partitionBy()
    r = c.select(
        "cnt",
        F.row_number().over(wo).alias("rk"),
        F.sum("cnt").over(wo).cast("long").alias("cum"),
        F.sum("cnt").over(wg).cast("long").alias("tot"),
        F.count("*").over(wg).cast("long").alias("v"),
    )
    ks = spark.createDataFrame([(k,) for k in COVER_KS], "k long")
    return (
        F.broadcast(ks)
        .join(r, F.least(F.col("k"), F.col("v")) == F.col("rk"))
        .select(
            "k",
            F.least(F.col("k"), F.col("v")).cast("long").alias("k_eff"),
            F.col("cum").alias("head_tokens"),
            F.col("tot").alias("total_tokens"),
            F.expr("CAST(cum * 1000000 DIV tot AS BIGINT)").alias("cover_ppm"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Bloom-filter false-positive-rate audit (measured vs theoretical)
# ---------------------------------------------------------------------------

BLOOM_M = 131_072  # filter size in bits (2^17)
BLOOM_K = 3        # hash functions (salted h31)
BLOOM_SRC = "src1"  # the member set: this source's shingle vocabulary

# Membership universe: word TRIGRAM shingles, not unigrams — the
# fixture's unigram vocabulary is so small (~31 words) that every
# source contains every word and the true-negative probe set would be
# EMPTY; trigram shingles are also what a dedup pipeline actually asks
# a Bloom filter about.

# Theoretical FPR of a Bloom filter with `bits` of `m` set, probed k
# times: (bits/m)^k — ONE mirrored double expression micro-rounded.
_BLOOM_EXP_PPM = (
    f"CAST(round(1000000 * pow(CAST(bits_set AS DOUBLE) / {BLOOM_M}, {BLOOM_K}))"
    " AS BIGINT)"
)


def _bloom_pos(col: str, salt: int, duck: bool) -> str:
    """Position of salted hash i in the bit array (mirrored)."""
    h = duck_h31(f"'{salt}:' || {col}") if duck else spark_h31(f"'{salt}:' || {col}")
    return f"({h}) % {BLOOM_M}"


@query(
    "q_bloom_fpr_audit",
    oracle=f"""
WITH sh AS (
  SELECT source, unnest({word_ngrams_sql('toks', 3)}) AS word
  FROM (SELECT source, {_TOKENS_SQL} AS toks FROM documents)
),
va AS (SELECT DISTINCT word FROM sh WHERE source = '{BLOOM_SRC}'),
vb AS (
  SELECT word FROM (
    SELECT DISTINCT word FROM sh WHERE source <> '{BLOOM_SRC}'
  ) EXCEPT SELECT word FROM va
),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos('word', i, True)} AS pos FROM va" for i in range(BLOOM_K))}
  )
),
probe AS (
  {" UNION ALL ".join(f"SELECT word, {_bloom_pos('word', i, True)} AS pos FROM vb" for i in range(BLOOM_K))}
),
hits AS (
  SELECT probe.word, CAST(count(bits.pos) AS BIGINT) AS hit
  FROM probe LEFT JOIN bits ON probe.pos = bits.pos
  GROUP BY probe.word
),
m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM va) AS n_member,
         (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
         CAST(count(*) AS BIGINT) AS n_probe,
         CAST(sum(CASE WHEN hit = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
  FROM hits
)
SELECT n_member, bits_set, n_probe, n_fp,
       CAST(n_fp * 1000000 // n_probe AS BIGINT) AS fpr_ppm,
       {_BLOOM_EXP_PPM} AS expected_ppm
FROM m
""",
)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive audit: build a {BLOOM_K}-hash,
    {BLOOM_M}-bit filter over one source's trigram-shingle set (the
    thing a dedup pipeline actually asks membership about — unigrams
    would leave an empty probe set, the fixture's word vocabulary
    being near-universal per source), probe it with every shingle that
    source does NOT contain (true negatives by construction), and
    report the MEASURED false-positive rate next to
    the theoretical (bits/m)^k — completing the sketch-audit trio
    (q_cms_error_bands for counts, q_kmv_distinct for cardinality,
    this for membership). A pipeline that gates shuffles behind Bloom
    filters (as Spark's own runtime bloom join does) should know its
    real FPR, not the textbook one.

    The filter is fully relational and deterministic: the bit array
    is the DISTINCT set of salted-h31 positions of the member
    vocabulary (≤ k·|A| rows, no bitmap state), and a probe is a
    false positive iff ALL k of its positions hash-join into that
    set. No randomness, no UDF, both engines share the exact hash
    (functions/hashes.py).

    Engine stability: positions, counts, and the measured rate are
    exact integers; the theoretical rate is ONE mirrored double pow()
    micro-rounded.

    Shape: two vocabulary builds, a position explode (constant ×k),
    one position-keyed hash join bounded by vocabulary sizes, one
    reduce. At 100 TB everything after the (word) distinct is
    vocabulary-sized."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "source", tokens_col(F.col("text")).alias("toks")
    ).select("source", F.explode(F.expr(word_ngrams("toks", 3))).alias("word"))
    va = words.filter(F.col("source") == BLOOM_SRC).select("word").distinct()
    vb = (
        words.filter(F.col("source") != BLOOM_SRC)
        .select("word")
        .distinct()
        .exceptAll(va)
    )
    bits = None
    probe = None
    for i in range(BLOOM_K):
        pa = va.select(F.expr(_bloom_pos("word", i, False)).alias("pos"))
        pb = vb.select("word", F.expr(_bloom_pos("word", i, False)).alias("pos"))
        bits = pa if bits is None else bits.unionByName(pa)
        probe = pb if probe is None else probe.unionByName(pb)
    bits = bits.distinct()
    hits = (
        probe.join(bits.withColumnRenamed("pos", "bpos"),
                   probe.pos == F.col("bpos"), "left")
        .groupBy("word")
        .agg(F.count("bpos").cast("long").alias("hit"))
    )
    n_member = va.agg(F.count("*").cast("long").alias("n_member"))
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))
    m = (
        hits.agg(
            F.count("*").cast("long").alias("n_probe"),
            F.sum(F.when(F.col("hit") == BLOOM_K, 1).otherwise(0))
            .cast("long")
            .alias("n_fp"),
        )
        .crossJoin(F.broadcast(n_member))
        .crossJoin(F.broadcast(n_bits))
    )
    return m.select(
        "n_member", "bits_set", "n_probe", "n_fp",
        F.expr("CAST(n_fp * 1000000 DIV n_probe AS BIGINT)").alias("fpr_ppm"),
        F.expr(_BLOOM_EXP_PPM).alias("expected_ppm"),
    )


# ---------------------------------------------------------------------------
# Unique-shingle share per source (content originality screen)
# ---------------------------------------------------------------------------


@query(
    "q_unique_shingle_share",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT source, word
  FROM (
    SELECT source, unnest({word_ngrams_sql('toks', 3)}) AS word
    FROM (SELECT source, {_TOKENS_SQL} AS toks FROM documents)
  )
),
u AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_src FROM sh GROUP BY word
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS unique_ppm
FROM sh JOIN u USING (word)
GROUP BY source ORDER BY source
""",
)
def q_unique_shingle_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-originality screen: per source, the share of its
    trigram-shingle vocabulary that NO other source contains — the
    complement of q_source_vocab_overlap's pairwise view (a source
    with unique_ppm ≈ 0 is pure boilerplate/mirror content the dedup
    tier should collapse; a high share marks genuinely original
    contributions worth up-weighting in the mix). Shingles, not
    unigrams — the fixture's word vocabulary is near-universal per
    source (the q_bloom_fpr_audit lesson).

    Engine stability: distinct counts, the source-multiplicity of each
    shingle, and the ppm share are pure BIGINT arithmetic.

    Shape: one distinct over (source, shingle), a shingle-keyed
    multiplicity aggregate joined back on the same key (exchange
    reused), then a map-side rollup to |sources| rows. At 100 TB:
    vocabulary-sized work after the first distinct."""
    d = load(spark, sf_dir, "documents")
    sh = (
        d.select("source", tokens_col(F.col("text")).alias("toks"))
        .select("source", F.explode(F.expr(word_ngrams("toks", 3))).alias("word"))
        .distinct()
    )
    u = sh.groupBy("word").agg(F.count("*").cast("long").alias("n_src"))
    return (
        sh.join(u, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_src") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.expr(
                "CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("unique_ppm"),
        )
        .orderBy("source")
    )
