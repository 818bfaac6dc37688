"""Training-data pipeline composition operators (SURVEY §2.11 north
star, beyond the dedup/similarity family): benchmark decontamination,
repetition scoring, PII-style masking, fixed-window document chunking,
deterministic train/val/test splitting, and int8 embedding
quantization. These are the remaining stages of a real pretraining
corpus build — after dedup (llm/dedup.py) and quality scoring
(functions/text.py), a pipeline decontaminates against eval
benchmarks, masks identifiers, chunks documents into context windows,
splits, and quantizes embeddings for the ANN index.

100 TB shapes:
- decontamination: the benchmark n-gram set is small by construction
  (eval suites are thousands of docs, not billions) → broadcast; the
  corpus side is a per-row shingle map + broadcast semi-join — the
  corpus never shuffles, only the (tiny) hit rows aggregate.
- repetition / masking / chunking / quantization: embarrassingly
  parallel per-row maps (chunking fans out ~n_tokens/CHUNK rows per
  doc but needs no shuffle at all).
- splitting: a pure arithmetic hash per row — no shuffle, no RNG
  state, reproducible across engines/runs/cluster sizes, which
  sampleBy/rand() splits are not.

Reference parity note: the reference (src/main.rs:59-294) has no LLM
pipeline surface; these operators are the mandated training-data
extension, designed Spark-first.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.rounding import floor_round, floor_round_sql
from kafka_to_parquet_spark.functions.text import (
    _TOKENS_SQL,
    tokens_col,
    word_ngrams,
    word_ngrams_sql,
)
from kafka_to_parquet_spark.functions.vectors import (
    amax_expr,
    duck_amax,
    duck_int_dot,
    duck_int_sum,
    duck_quantize,
    int_dot_expr,
    int_sum_expr,
    quantize_expr,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram collision against a held-out set)
# ---------------------------------------------------------------------------

# 5-gram window: calibrated on the synthetic corpus (31-word vocab,
# 10-99 tokens/doc) — 3-grams collide by chance (384/479 docs "hit" at
# sf0.01), 5-grams only on genuine shared passages (2 docs). Real
# pipelines use 8-13-gram windows for the same reason (vocab is larger,
# so the chance-collision knee sits higher).
DECON_N = 5
# Deterministic pseudo-benchmark: every 23rd doc stands in for the eval
# suite. A real run would read the benchmark corpus as a second table;
# the plan shape (broadcast semi-join) is identical.
BENCH_MOD = 23


# Shared decontamination stage — ONE definition per engine of the
# per-doc n-gram table and the benchmark n-gram set, used by both
# q_decontaminate and q_pipeline_yield (same discipline as
# corpus_stats._DW_CTE). `t` carries text/lang/source so either
# consumer can project what it needs.
_G_BENCH_CTES = f"""t AS (
  SELECT doc_id, lang, source, text, {_TOKENS_SQL} AS toks FROM documents
),
g AS (
  SELECT doc_id, lang, source,
         unnest(list_distinct({word_ngrams_sql('toks', DECON_N)})) AS s
  FROM t
),
bench AS (SELECT DISTINCT s FROM g WHERE doc_id % {BENCH_MOD} = 0)"""


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the `g` CTE: (doc_id, lang, source, s)."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", tokens_col(F.col("text")).alias("toks")
    )
    grams = F.expr(f"array_distinct({word_ngrams('toks', DECON_N)})")
    return t.select("doc_id", "lang", "source", F.explode(grams).alias("s"))


def _bench_grams(grams: DataFrame) -> DataFrame:
    """Spark twin of the `bench` CTE: the benchmark slice's distinct
    n-grams (small by construction — eval suites don't scale with the
    corpus), always broadcast."""
    return grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()


@query(
    "q_decontaminate",
    oracle=f"""
WITH {_G_BENCH_CTES}
SELECT g.doc_id, g.lang, g.source, CAST(count(*) AS BIGINT) AS n_hits
FROM g JOIN bench USING (s)
WHERE g.doc_id % {BENCH_MOD} <> 0
GROUP BY g.doc_id, g.lang, g.source
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: report every corpus document sharing
    at least one {DECON_N}-gram with the (pseudo-)benchmark set, with
    the count of distinct shared n-grams — the docs a pretraining build
    must drop to keep eval numbers honest.

    Plan: per-row n-gram map → benchmark side filtered + distinct
    (small by construction: eval suites don't scale with the corpus)
    → **broadcast** inner join — the corpus side never shuffles; only
    the hit rows (≈ near-dups of benchmark docs) reach the count agg.
    The kept corpus is then ``documents LEFT ANTI JOIN this`` (same
    broadcastable output)."""
    grams = _grams(spark, sf_dir)
    bench = _bench_grams(grams)
    return (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style duplicate-fraction signals)
# ---------------------------------------------------------------------------


@query(
    "q_text_repetition",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
b AS (SELECT doc_id, toks, {word_ngrams_sql('toks', 2)} AS bg FROM t)
SELECT doc_id,
       CAST(len(bg) AS INTEGER) AS n_bigrams,
       CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         {floor_round_sql('1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)', 6)}
       END AS dup_token_frac,
       CASE WHEN len(bg) = 0 THEN 0.0 ELSE
         {floor_round_sql('1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)', 6)}
       END AS dup_bigram_frac
FROM b
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: duplicate-token and duplicate-bigram
    fractions per document (the Gopher/MassiveText quality filters for
    looping or boilerplate-heavy text). Pure higher-order functions on
    the token array — per-row map, zero shuffle; at 100 TB this is a
    free pass over the corpus fused with the other per-doc filters."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    b = t.select(
        "doc_id",
        "toks",
        F.expr(word_ngrams("toks", 2)).alias("bg"),
    )
    n_tok = F.size("toks").cast("double")
    n_bg = F.size("bg").cast("double")
    return b.select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.when(F.size("toks") == 0, F.lit(0.0))
        .otherwise(floor_round(1.0 - F.size(F.array_distinct("toks")) / n_tok, 6))
        .alias("dup_token_frac"),
        F.when(F.size("bg") == 0, F.lit(0.0))
        .otherwise(floor_round(1.0 - F.size(F.array_distinct("bg")) / n_bg, 6))
        .alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII-style masking (identifier scrub before training)
# ---------------------------------------------------------------------------

# Two mask classes, one combined pattern: digit runs of >= 4 (phone /
# account / SSN shapes) and long alphanumeric tokens of >= 8 chars
# (emails and hostnames tokenize into these once punctuation splits;
# the synthetic corpus has no digits, so the long-token class is what
# exercises the path end-to-end). Same RE2/Java-compatible regex both
# engines; DuckDB needs the explicit 'g' flag to match Spark's
# replace-all default.
PII_PATTERN = "[0-9]{4,}|[a-z0-9]{8,}"


@query(
    "q_text_pii",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{PII_PATTERN}')) AS INTEGER) AS n_masked,
       md5(regexp_replace(lower(text), '{PII_PATTERN}', '<ID>', 'g')) AS masked_fp
FROM documents
""",
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/identifier scrub: replace digit runs and long identifier
    tokens with a sentinel, returning the mask count and an md5
    fingerprint of the scrubbed text (the fingerprint keeps the output
    scalar and engine-comparable; the real pipeline writes the scrubbed
    text column itself). Per-row regexp map, no shuffle. The regex is
    passed as a Column literal on the Spark side — SQL string literals
    eat backslashes (established convention, functions/text.py)."""
    d = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(PII_PATTERN), 0)).alias("n_masked"),
        F.md5(F.regexp_replace(low, F.lit(PII_PATTERN), "<ID>")).alias("masked_fp"),
    )


# ---------------------------------------------------------------------------
# Fixed-window document chunking (context-window preparation)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 16  # fixture docs are 10-99 tokens; real runs use 2-8k


@query(
    "q_chunk_docs",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
c AS (SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / {CHUNK_TOKENS}) AS INTEGER)))
               AS chunk_id
      FROM t WHERE len(toks) > 0)
SELECT doc_id,
       CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id * {CHUNK_TOKENS} + 1,
                           chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS})) AS INTEGER) AS n_tok,
       md5(array_to_string(list_slice(toks, chunk_id * {CHUNK_TOKENS} + 1,
                           chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' ')) AS chunk_fp
FROM c
""",
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into fixed
    {CHUNK_TOKENS}-token windows (last window ragged), one output row
    per chunk with its token count and content fingerprint — the
    explode that turns a document corpus into a training-sample table.
    Per-row sequence + slice, no shuffle; the fan-out is bounded by
    n_tokens/CHUNK per doc, so partitions grow by a constant factor
    (maxPartitionBytes sizing handles it at 100 TB)."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(float(CHUNK_TOKENS))).cast("int")
    c = t.filter(F.size("toks") > 0).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_TOKENS + 1, CHUNK_TOKENS
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

# Knuth multiplicative hash on the doc id: exact BIGINT arithmetic in
# both engines (doc_id * 2654435761 < 2^53 at any plausible id range a
# fixture reaches; a production run with 64-bit ids would reduce mod a
# prime first). 80/10/10 by bucket.
_SPLIT_BUCKET = "(doc_id * 2654435761) % 1000"
_SPLIT_CASE = (
    f"CASE WHEN {_SPLIT_BUCKET} < 800 THEN 'train' "
    f"WHEN {_SPLIT_BUCKET} < 900 THEN 'val' ELSE 'test' END"
)


@query(
    "q_split_assign",
    oracle=f"""
SELECT lang, {_SPLIT_CASE} AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang, {_SPLIT_CASE}
""",
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) via a
    multiplicative hash of the document id, summarized per (lang,
    split). No RNG state: the assignment is a pure per-row expression,
    reproducible across runs, engines, and cluster sizes — which
    ``rand()``-seeded or ``sampleBy`` splits are not (their output
    depends on partitioning). Per-row map + one small agg; at 100 TB
    the split column is computed on the fly wherever needed instead of
    being stored."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", F.expr(_SPLIT_CASE).alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (ANN index preparation)
# ---------------------------------------------------------------------------


@query(
    "q_embed_quantize",
    oracle=f"""
WITH s AS (
  SELECT vec_id, label, embedding, {duck_amax('embedding')} AS amax
  FROM embeddings
),
q AS (
  SELECT vec_id, label, amax, {duck_quantize('embedding', 'amax', 127)} AS qv
  FROM s
)
SELECT vec_id, label,
       CAST(floor(amax * 1000000.0 + 0.5) AS BIGINT) AS amax_u,
       {duck_int_sum('qv')} AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max|x|/127, elements rounded half-up — the compression step
    before building a large ANN index (4× memory cut, SIMD-friendly
    dot products). Output keeps scalar checksums (sum/min/max of the
    quantized vector + the scale in micro-units) so the result is
    engine-comparable; the real pipeline writes ``array<tinyint>``.
    All arithmetic is float→double widening (exact), one double
    division, and floor — bit-identical across engines. Per-row map,
    no shuffle."""
    e = load(spark, sf_dir, "embeddings")
    s = e.select(
        "vec_id", "label", "embedding", F.expr(amax_expr("embedding")).alias("amax")
    )
    qv = F.expr(quantize_expr("embedding", "amax", 127))
    q = s.select("vec_id", "label", "amax", qv.alias("qv"))
    return q.select(
        "vec_id",
        "label",
        F.floor(F.col("amax") * 1000000.0 + F.lit(0.5)).cast("long").alias("amax_u"),
        F.expr(int_sum_expr("qv")).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


@query(
    "q_sim_topk_int8",
    oracle=f"""
WITH a AS (
  SELECT vec_id, embedding, {duck_amax('embedding')} AS amax
  FROM embeddings
),
s AS (SELECT vec_id, {duck_quantize('embedding', 'amax', 127)} AS qv FROM a),
q AS (SELECT vec_id AS q_id, qv AS qq FROM s WHERE vec_id < 10),
pairs AS (
  SELECT q.q_id, s.vec_id AS c_id, {duck_int_dot('q.qq', 's.qv')} AS score_int
  FROM q CROSS JOIN s WHERE s.vec_id <> q.q_id
)
SELECT q_id, c_id, score_int, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_int DESC, c_id) AS rn
      FROM pairs)
WHERE rn <= 5
""",
)
def q_sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized retrieval: top-5 neighbors per query under the INT8
    inner product — the search that runs against a quantized ANN index
    (q_embed_quantize is the index build). Integer dot products are
    *exact* in both engines (no float-accumulation drift), so unlike
    cosine ranking no rounding discipline is needed: score ties break
    on c_id and the whole ranking is bit-deterministic. Plan: per-row
    quantization map, broadcast 10-query side, cell-free brute force
    (the IVF cell join of q_sim_ivf composes on top unchanged at
    scale — quantization and partitioning are orthogonal)."""
    e = load(spark, sf_dir, "embeddings")
    s = e.select(
        "vec_id", "embedding", F.expr(amax_expr("embedding")).alias("amax")
    ).select("vec_id", F.expr(quantize_expr("embedding", "amax", 127)).alias("qv"))
    q = s.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(s)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.expr(int_dot_expr("qq", "qv")).alias("score_int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_int"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id", "score_int", "rank")
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing (context-window assembly)
# ---------------------------------------------------------------------------

PACK_CAP = 128  # tokens per pack; fixture docs are 10-99 tokens
PACK_SHARDS = 16  # hash shards — parallelism independent of any data skew
# Portable LCG hash (same constants as q_corpus_shuffle's _SHUF_HASH):
# identical integer arithmetic in Spark SQL and DuckDB, unlike
# engine-private hash() builtins.
_LCG_HASH = "(doc_id * 1103515245 + 12345) % 2147483648"


def _lcg_bucket_sql(n_buckets: int) -> str:
    """Bucket id in [0, n_buckets) from the LCG's HIGH bits — valid in
    both Spark SQL and DuckDB. `lcg % n` would pass doc_id's low-bit
    structure straight through (one affine step mod 2^31 keeps low
    bits affine: ids assigned as n·k+c upstream would all land in ONE
    bucket); the high bits are the well-mixed ones, so take
    floor(lcg / (2^31/n)). n must divide 2^31; the float division is
    exact enough (q < n, r/div < 1) that floor can never cross."""
    assert 2147483648 % n_buckets == 0
    div = 2147483648 // n_buckets
    return f"CAST(floor(({_LCG_HASH}) / {div}.0) AS BIGINT)"


@query(
    "q_pack_greedy",
    oracle=f"""
WITH RECURSIVE
t AS (SELECT doc_id, shard, CAST(len(toks) AS INTEGER) AS n_tok,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM (SELECT doc_id,
                   {_lcg_bucket_sql(PACK_SHARDS)} AS shard,
                   {_TOKENS_SQL} AS toks
            FROM documents)),
walk(shard, rn, doc_id, n_tok, pack_id, acc) AS (
  SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tok,
         CASE WHEN w.acc + t.n_tok > {PACK_CAP} THEN w.pack_id + 1 ELSE w.pack_id END,
         CASE WHEN w.acc + t.n_tok > {PACK_CAP} THEN t.n_tok ELSE w.acc + t.n_tok END
  FROM walk w JOIN t ON t.shard = w.shard AND t.rn = w.rn + 1
)
SELECT doc_id, shard, n_tok, pack_id FROM walk
""",
)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: walk each shard's documents in order,
    accumulating token counts; start a new pack whenever the next doc
    would overflow {PACK_CAP} tokens — the step that turns a document
    corpus into fixed-budget training sequences without splitting docs
    (chunking, q_chunk_docs, is the splitting variant).

    Inherently sequential per shard — not expressible with windows
    (the pack boundary depends on the running remainder, which resets
    data-dependently), so this is the sanctioned ``applyInPandas``
    path: one Arrow batch per shard, a linear scan inside. The shard
    key is high-bits ``lcg_hash(doc_id)`` into {PACK_SHARDS} shards —
    packing is per-shard
    by design (cross-shard order is meaningless for training), so the
    shards are hash-uniform regardless of corpus skew — the bucket id
    comes from the LCG's HIGH bits, so even stride-structured doc_ids
    (upstream often assigns n·k+c per source) spread evenly, and no
    language or source ever concentrates a corpus-sized Arrow group on
    one task
    (the earlier ``lang``-sharded form had parallelism capped at
    #languages, an OOM cliff once one language dominates). At 100 TB
    raise PACK_SHARDS with the cluster; each scan stays
    |corpus|/n_shards rows and the DuckDB recursive-CTE oracle walks
    the identical per-shard (doc_id) order because the LCG shard hash
    is engine-portable integer arithmetic."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_lcg_bucket_sql(PACK_SHARDS)).alias("shard"),
        F.size(tokens_col(F.col("text"))).alias("n_tok"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack_id, acc = 0, 0
        for n in pdf["n_tok"]:
            n = int(n)
            if acc and acc + n > PACK_CAP:
                pack_id += 1
                acc = n
            else:
                acc += n
            pack_ids.append(pack_id)
        pdf["pack_id"] = pack_ids
        return pdf[["doc_id", "shard", "n_tok", "pack_id"]]

    return t.groupBy("shard").applyInPandas(
        pack, schema="doc_id long, shard long, n_tok int, pack_id long"
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (quality-weighted corpus selection)
# ---------------------------------------------------------------------------

SAMPLE_K = 100
# u in (0, 1]: portable LCG uniform from doc_id, identical rational in
# both engines ((lcg % 2^31) + 1) / 2^31.
_U_SQL = "((((doc_id * 1103515245 + 12345) % 2147483648) % 2147483647) + 1) / 2147483647.0"


@query(
    "q_sample_weighted",
    oracle=f"""
SELECT doc_id, n_chars, key_mu,
       CAST(row_number() OVER (ORDER BY key_mu DESC, doc_id) AS INTEGER) AS rank
FROM (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(floor(ln({_U_SQL}) / n_chars * 1000000 + 0.5) AS BIGINT) AS key_mu
  FROM documents WHERE n_chars > 0
)
ORDER BY key_mu DESC, doc_id
LIMIT {SAMPLE_K}
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-Res): each document gets priority key
    ln(u)/w — u a portable LCG uniform of doc_id, w = n_chars — and
    the sample is the top-{SAMPLE_K} keys. Equivalent to ranking by
    u^(1/w) but with ln's fencing precedent instead of a fractional
    pow; inclusion probability is proportional to weight, the draw is
    reproducible across runs AND engines (no rand()), and changing the
    LCG constants reshuffles the draw like a seed.

    Engine stability: u is an exact rational of integer arithmetic;
    the single transcendental ln(u) is evaluated on an identical
    double, divided by the integer weight, and fenced to micro-units
    before ranking — ordering never compares raw engine doubles.

    Plan: the key is a scan-side expression and the top-k compiles to
    TakeOrderedAndProject — per-partition heaps of {SAMPLE_K} rows,
    no global sort, no shuffle of the corpus; the classic reservoir
    sample made embarrassingly parallel. At 100 TB this is one scan."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            f"CAST(floor(ln({_U_SQL}) / n_chars * 1000000 + 0.5) AS BIGINT)"
        ).alias("key_mu"),
    )
    w = Window.orderBy(F.desc("key_mu"), F.asc("doc_id"))
    return (
        keyed.orderBy(F.desc("key_mu"), F.asc("doc_id"))
        .limit(SAMPLE_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (training-order permutation)
# ---------------------------------------------------------------------------

SHUFFLE_BUCKETS = 32
_SHUF_HASH = _LCG_HASH


@query(
    "q_corpus_shuffle",
    oracle=f"""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY {_lcg_bucket_sql(SHUFFLE_BUCKETS)}, {_SHUF_HASH}, doc_id
       ) AS BIGINT) AS shuffle_rank
FROM documents
""",
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: assign every document a
    dense rank under a pseudorandom (LCG-hash) permutation —
    reproducible across runs and engines, unlike ``rand()`` ordering.

    The naive form (``row_number() OVER (ORDER BY hash)``) collapses
    into ONE window partition — the hot-key cliff. This is the
    two-level decomposition (same pattern as q_win_running_scalable):
    rank within {SHUFFLE_BUCKETS} hash buckets in parallel, prefix-sum
    the tiny per-bucket counts, add the bucket offset. The permutation
    is defined as order-by (bucket, hash, id) — the bucket from the
    LCG's high bits (low-bit buckets would inherit stride structure
    from upstream id assignment and skew the per-bucket ranking) — so
    the decomposition is
    exact, and every stage is either per-bucket-parallel or operates on
    {SHUFFLE_BUCKETS} rows. At 100 TB buckets scale with the cluster;
    the offsets table stays tiny."""
    d = load(spark, sf_dir, "documents")
    h = F.expr(_SHUF_HASH)
    base = d.select(
        "doc_id",
        h.alias("_h"),
        F.expr(_lcg_bucket_sql(SHUFFLE_BUCKETS)).alias("_bkt"),
    )
    w_in = Window.partitionBy("_bkt").orderBy("_h", "doc_id")
    ranked = base.withColumn("_rk", F.row_number().over(w_in))
    counts = base.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_bkt", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        ranked.join(F.broadcast(offsets), "_bkt")
        .select("doc_id", (F.col("_off") + F.col("_rk")).cast("long").alias("shuffle_rank"))
    )


# ---------------------------------------------------------------------------
# Pipeline yield report: the whole curation funnel as one plan
# ---------------------------------------------------------------------------

from kafka_to_parquet_spark.functions.text import STOPWORDS, _STOP_SQL  # noqa: E402

# Quality gate: stopword ratio ≥ 1/25 of tokens (integer predicate;
# the fixture's ratio distribution has p25 ≈ 4.4%, so the gate is a
# real split at every SF).
YIELD_STOP_NUM, YIELD_STOP_DEN = 1, 25


@query(
    "q_pipeline_yield",
    oracle=f"""
WITH {_G_BENCH_CTES},
hit AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
        WHERE g.doc_id % {BENCH_MOD} <> 0),
f AS (
  SELECT t.doc_id, t.source,
         (t.doc_id = min(t.doc_id) OVER (PARTITION BY sha256(text))) AS uniq,
         ({YIELD_STOP_DEN} * len(list_filter(toks, x -> x IN {_STOP_SQL}))
          >= {YIELD_STOP_NUM} * len(toks)) AS q_ok,
         (t.doc_id % {BENCH_MOD} = 0) AS is_bench,
         (t.doc_id IN (SELECT doc_id FROM hit)) AS hit
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN uniq AND q_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(sum(CASE WHEN uniq AND q_ok AND NOT is_bench AND NOT hit
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM f GROUP BY source
""",
)
def q_pipeline_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel yield report: per source, how many documents
    survive each pipeline stage — exact dedup (sha-256 keeper), the
    stopword-ratio quality gate, and benchmark decontamination — in
    ONE declarative plan. This is the dashboard a data curator reads
    after every corpus rebuild; it also demonstrates that the
    operator library composes: the decontamination stage IS
    q_decontaminate's shared fragment (_grams/_bench_grams and
    _G_BENCH_CTES — one definition per engine), so the funnel cannot
    drift from the dedicated operator.

    Shape: the doc table is reduced in-row to a narrow flag record
    (doc_id, source, 32-byte digest, integer quality bit, benchmark
    bit) — bodies never travel; the dedup keeper flag is a min-window
    over the digest partition (ONE body-free exchange, no
    corpus-sized join side — an explicit broadcast of a keeper table
    would be the 100 TB failure mode); the contamination flag joins
    the genuinely-small hit-id set by broadcast. One source-keyed
    aggregate of conditional counts collapses everything map-side.
    Monotone by construction: n_total ≥ n_unique ≥ n_quality ≥
    n_clean."""
    docs = load(spark, sf_dir, "documents")
    grams = _grams(spark, sf_dir)
    bench = _bench_grams(grams)
    hit = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .withColumnRenamed("doc_id", "hit_id")
    )
    toks = tokens_col(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    narrow = docs.select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("h"),
        (YIELD_STOP_DEN * n_stop >= YIELD_STOP_NUM * F.size(toks)).alias("q_ok"),
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
    )
    w = Window.partitionBy("h")
    f = (
        narrow.withColumn("uniq", F.col("doc_id") == F.min("doc_id").over(w))
        .join(F.broadcast(hit), F.col("doc_id") == F.col("hit_id"), "left")
        .select(
            "source",
            "uniq",
            "q_ok",
            "is_bench",
            F.col("hit_id").isNotNull().alias("hit"),
        )
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return f.groupBy("source").agg(
        F.count("*").alias("n_total"),
        one(F.col("uniq")).alias("n_unique"),
        one(F.col("uniq") & F.col("q_ok")).alias("n_quality"),
        one(
            F.col("uniq") & F.col("q_ok") & ~F.col("is_bench") & ~F.col("hit")
        ).alias("n_clean"),
    )



# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail on the deterministic splitter
# ---------------------------------------------------------------------------

# Expected per-mille allocation of the 80/10/10 splitter, and the χ²
# threshold for df=2 at α=0.05 (5.991) in micro units. The χ² term is
# computed per cell as one mirrored double expression over exact
# integers ((1000·o − n·r)² would overflow BIGINT past ~1e9 rows) and
# micro-rounded BEFORE the 3-cell sum — the established order-immunity
# discipline.
SRM_EXPECTED = {"train": 800, "val": 100, "test": 100}
SRM_CHI2_CRIT_MICRO = 5_991_000
_SRM_TERM = (
    "CAST(round(1000000 * (CAST(1000 * o - n * r AS DOUBLE) "
    "* (1000 * o - n * r) / (1000.0 * n * r))) AS BIGINT)"
)
_SRM_EXPECTED_SQL = (
    "SELECT 'train' AS split, 800 AS r UNION ALL "
    "SELECT 'val', 100 UNION ALL SELECT 'test', 100"
)


@query(
    "q_srm_check",
    oracle=f"""
WITH obs AS (
  SELECT lang, {_SPLIT_CASE} AS split, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
exp AS ({_SRM_EXPECTED_SQL}),
grid AS (
  SELECT l.lang, e.split, CAST(e.r AS BIGINT) AS r, coalesce(obs.o, 0) AS o
  FROM (SELECT DISTINCT lang FROM documents) l
  CROSS JOIN exp e
  LEFT JOIN obs ON obs.lang = l.lang AND obs.split = e.split
),
t AS (
  SELECT lang, split, r, o,
         CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM grid
)
SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(sum({_SRM_TERM}) AS BIGINT) AS chi2_micro,
       CAST(CASE WHEN sum({_SRM_TERM}) > {SRM_CHI2_CRIT_MICRO}
            THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
FROM t
GROUP BY lang
ORDER BY lang
""",
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: per language, the χ² of the
    observed train/val/test document counts against the splitter's
    declared 80/10/10 allocation, flagged at the df=2 / α=0.05
    critical value — the standard experimentation-platform health
    check, here pointed at q_split_assign's multiplicative-hash
    splitter. An SRM flag means the hash is interacting with the id
    structure of that stratum (e.g. ids assigned in lockstep with
    language) — the failure mode deterministic splitters must be
    monitored for, and the audit-the-fast-path discipline of
    q_ann_recall / q_lsh_recall applied to the sampling tier.

    Engine stability: counts are exact integers on a zero-filled
    lang×split grid (a missing split cell must CONTRIBUTE — its term
    is n·r/1000, not zero); each χ² term is one mirrored double
    expression micro-rounded before the 3-cell sum; the flag compares
    integers.

    Shape: one map-side-combinable groupBy to ≤ |langs|·3 cells, then
    constant-size grid arithmetic. At 100 TB: one pass, 15 cells."""
    d = load(spark, sf_dir, "documents")
    obs = d.groupBy("lang", F.expr(_SPLIT_CASE).alias("split")).agg(
        F.count("*").cast("long").alias("o")
    )
    exp = spark.createDataFrame(
        [(s, r) for s, r in SRM_EXPECTED.items()], "split string, r long"
    )
    grid = (
        d.select("lang")
        .distinct()
        .crossJoin(F.broadcast(exp))
        .join(obs, ["lang", "split"], "left")
        .select("lang", "split", "r", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    t = grid.withColumn(
        "n", F.sum("o").over(Window.partitionBy("lang")).cast("long")
    )
    return (
        t.groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.sum(F.expr(_SRM_TERM)).cast("long").alias("chi2_micro"),
        )
        .select(
            "lang",
            "n_docs",
            "chi2_micro",
            F.expr(
                f"CAST(CASE WHEN chi2_micro > {SRM_CHI2_CRIT_MICRO} "
                "THEN 1 ELSE 0 END AS INT)"
            ).alias("srm_flag"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified rebalancing sample (equalize language strata)
# ---------------------------------------------------------------------------

# Per-document keep predicate: an independent multiplicative hash of
# the id (same Knuth constant as _SPLIT_BUCKET but reduced mod 1e6, so
# the keep decision and the train/val/test split use different bucket
# granularities) compared against the stratum's integer-ppm quota.
_STRAT_HASH = "(doc_id * 2654435761) % 1000000"


@query(
    "q_stratified_sample",
    oracle=f"""
WITH m AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
t AS (
  SELECT lang, n_docs,
         CAST(min(n_docs) OVER () * 1000000 // n_docs AS BIGINT) AS thr_ppm
  FROM m
),
k AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(n_chars) AS BIGINT) AS kept_chars
  FROM documents d JOIN t ON d.lang = t.lang
  WHERE {_STRAT_HASH} < thr_ppm
  GROUP BY d.lang
)
SELECT t.lang, t.n_docs, t.thr_ppm,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.n_kept, 0) * 1000000 // t.n_docs AS BIGINT) AS realized_ppm,
       CAST(coalesce(k.kept_chars, 0) AS BIGINT) AS kept_chars
FROM t LEFT JOIN k ON t.lang = k.lang
ORDER BY t.lang
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample that equalizes language
    strata to the smallest one: each language gets an integer-ppm keep
    quota min(n)/n_lang, and a document survives iff an independent
    multiplicative hash of its id falls under its stratum's quota —
    the rebalancing step a multilingual pretraining mix runs so the
    head language can't drown the tail (the hard-equalize complement
    to q_sample_temperature's sqrt softening).

    No RNG state: like q_split_assign, the keep decision is a pure
    per-row integer expression — reproducible across runs, engines,
    partitionings, and cluster sizes, which ``sample()``/``rand()``
    sampling is not. Exactness of the realized rate is itself part of
    the output (realized_ppm vs thr_ppm — the hash-uniformity audit).

    Engine stability: quotas, counts, and realized rates are all
    BIGINT ppm divisions; the keep predicate compares two integers.
    doc_id·2654435761 stays inside BIGINT for any id < 3.5e9 (the
    fixture's offset-replicated ids included); a production run with
    full 64-bit ids reduces the id mod a prime first.

    Shape: one small per-lang count, a broadcast quota join, one
    filtered pass with a map-side-combinable re-aggregate. Two scans
    of the fact (count, then filter) and bounded everything else; at
    100 TB the filter column never materializes."""
    d = load(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    t = m.select(
        "lang",
        "n_docs",
        F.expr(
            "CAST(min(n_docs) OVER () * 1000000 DIV n_docs AS BIGINT)"
        ).alias("thr_ppm"),
    )
    k = (
        d.join(F.broadcast(t), "lang")
        .filter(F.expr(_STRAT_HASH) < F.col("thr_ppm"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )
    return (
        t.join(k, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "thr_ppm",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.expr(
                "CAST(coalesce(n_kept, 0) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("realized_ppm"),
            F.coalesce(F.col("kept_chars"), F.lit(0)).cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Splitter hash-uniformity audit (KS vs discrete uniform)
# ---------------------------------------------------------------------------

# KS flag at alpha = 0.05: D > 1.358 / sqrt(n). One mirrored double
# predicate over exact integers (both engines compute the identical
# IEEE expression from the same BIGINTs).
_UNIF_FLAG = (
    "CAST((CAST(d_scaled AS DOUBLE) / (1000 * CAST(n AS DOUBLE)))"
    " * sqrt(CAST(n AS DOUBLE)) > 1.358 AS INTEGER)"
)


@query(
    "q_hash_uniformity",
    oracle=f"""
WITH b AS (
  SELECT {_SPLIT_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
),
g AS (SELECT unnest(range(0, 1000)) AS bucket),
grid AS (
  SELECT g.bucket, CAST(coalesce(b.c, 0) AS BIGINT) AS c
  FROM g LEFT JOIN b ON b.bucket = g.bucket
),
w AS (
  SELECT bucket, c,
         CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM grid
),
m AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(max(abs(1000 * cum - (bucket + 1) * n)) AS BIGINT) AS d_scaled
  FROM w
)
SELECT n AS n_docs, d_scaled,
       CAST(d_scaled * 1000000 // (1000 * n) AS BIGINT) AS d_ppm,
       {_UNIF_FLAG} AS reject_uniform
FROM m
""",
)
def q_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov uniformity audit of q_split_assign's
    multiplicative-hash bucket (doc_id·2654435761 mod 1000): the exact
    sup-distance between the observed bucket CDF and the discrete
    uniform, with the α=0.05 rejection flag — the audit that makes the
    splitter's "deterministic ≈ random" claim a measured number (SRM
    checks the per-language mix; this checks the raw hash itself, all
    1000 buckets zero-filled so an unhit bucket counts against it).

    Engine stability: the sup-distance clears every denominator —
    d_scaled = max|1000·cum − (bucket+1)·n| is exact BIGINT (the
    q_ks_test discipline); d_ppm is integer division; the flag is one
    mirrored double expression over the same integers.

    Shape: the corpus collapses map-side to ≤1000 bucket counts; the
    grid, window, and reduce run on those. One aggregation shuffle at
    any scale."""
    d = load(spark, sf_dir, "documents")
    b = d.groupBy(F.expr(_SPLIT_BUCKET).alias("bucket")).agg(
        F.count("*").cast("long").alias("c")
    )
    g = spark.range(0, 1000).select(F.col("id").alias("bucket"))
    grid = g.join(b, "bucket", "left").select(
        "bucket", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = grid.select(
        "bucket",
        "c",
        F.sum("c").over(Window.partitionBy().orderBy("bucket")).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    m = w.agg(
        F.max("n").alias("n"),
        F.max(F.abs(1000 * F.col("cum") - (F.col("bucket") + 1) * F.col("n")))
        .cast("long")
        .alias("d_scaled"),
    )
    return m.select(
        F.col("n").alias("n_docs"),
        "d_scaled",
        F.expr("CAST(d_scaled * 1000000 DIV (1000 * n) AS BIGINT)").alias("d_ppm"),
        F.expr(_UNIF_FLAG).alias("reject_uniform"),
    )
