"""Deduplication family over ``documents`` / ``embeddings``.

Five operators, each a different recall/cost point:

- q_dedup_exact      — sha256 hash group-by (exact, cheapest)
- q_dedup_ngram_jaccard — word-3-gram shingle Jaccard within blocking
  keys (exact similarity inside blocks)
- q_dedup_simhash    — 32-bit SimHash fingerprints (near-dup candidate
  generation by Hamming-close fingerprints)
- q_dedup_minhash_lsh — MLlib MinHashLSH approxSimilarityJoin
  (sub-quadratic candidate pairs; rows-only check)
- q_dedup_embedding  — embedding-cosine near-dup within label blocks

The 100 TB shapes: exact dedup shuffles |docs| hashes once; Jaccard /
cosine pairwise work is confined to blocking buckets (here
(lang, source) / label — in production a MinHash band or LSH bucket),
so cost is Σ bucket² not N².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.functions.hashes import (
    capped_band_cte,
    capped_banded,
    duck_h62,
    duck_md5_int,
    hyperplane_signs,
    spark_h62,
    spark_md5_int,
)
from kafka_to_parquet_spark.functions.rounding import floor_round, floor_round_sql
from kafka_to_parquet_spark.functions.text import (
    _TOKENS_SQL,
    tokens_col,
    word_ngrams,
    word_ngrams_sql,
)
from kafka_to_parquet_spark.functions.vectors import duck_cosine
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

EMBED_NEAR_TAU = 0.15  # synthetic gaussian embeddings: no true near-dups; tau keeps a demo tail

SIMHASH_BITS = 32

NGRAM_JACCARD_TAU = 0.1  # pairs below this aren't near-dups (corpus jaccard ≈ 0 off-diagonal)
MINHASH_DIST_TAU = 0.5  # approxSimilarityJoin keeps Jaccard distance < 0.5

# Hot-bucket controls — the two knobs that keep every pairwise stage in
# this module sub-quadratic on adversarial corpora (boilerplate headers,
# license text, mass-duplicated docs): MAX_SHINGLE_DF and
# functions/hashes.py's MAX_BAND_BUCKET. Both are mirrored term-for-term
# in the DuckDB oracles, so capping is part of the declared semantics,
# not a hidden approximation.
MAX_SHINGLE_DF = 32  # shingles in more docs than this are boilerplate: drop their postings


def shingled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, sh): distinct word-3-gram shingles per
    document — the shared candidate representation for the ngram and
    MinHash near-dup operators.

    The result is persisted AND memoized per (session, sf_dir): every
    consumer is a self-join (2-4 plan subtrees over the same
    shingles), and without a materialization boundary each subtree
    re-runs scan+tokenize+shingle. Memoization keeps repeated calls
    (sweeps, bench warm-ups) from stacking duplicate cache entries in
    block-manager memory. This is the local[*] analog of
    checkpointing the shingle table before a 100 TB self-join."""
    return memo(spark, sf_dir, "shingled_documents", lambda: _shingles(spark, sf_dir))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Filter on the token count, NOT on size(sh) > 0 (equivalent for
    # ≥3 tokens): a filter referencing the derived ``sh`` column gets
    # pushed below the projection by Catalyst with the whole
    # tokenize+shingle expression re-inlined into the Filter — the
    # pipeline then runs several times per row (observed 4-8× slower).
    return (
        d.select("doc_id", "lang", "source", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .withColumn("sh", F.expr(f"array_distinct({word_ngrams('toks', 3)})"))
        .drop("toks")
        .persist()
    )


@query(
    "q_dedup_exact",
    oracle="""
SELECT sha256(text)              AS fp,
       CAST(min(doc_id) AS BIGINT) AS keeper,
       CAST(count(*) AS BIGINT)  AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup as a hash group-by — sha2(text) → keep min
    doc_id. Hashing first means the shuffle carries 32-byte digests,
    not document bodies; this is the form that survives 100 TB (the
    naive dropDuplicates(["text"]) would shuffle full texts)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


_SHINGLES_SQL = f"""
SELECT doc_id, lang, source,
       list_distinct({word_ngrams_sql('toks', 3)}) AS sh
FROM (SELECT doc_id, lang, source, {_TOKENS_SQL} AS toks FROM documents)
"""


def pruned_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, s) exploded shingle postings with
    corpus-hot shingles removed: a shingle appearing in more than
    MAX_SHINGLE_DF documents of its (lang, source) block is boilerplate
    (header, license text) — its posting list would make the downstream
    self-join quadratic in that list, so its postings are dropped
    before candidate generation.

    The hot list is tiny by construction (≤ |postings| / MAX_SHINGLE_DF
    entries, in practice a handful of boilerplate shingles), so the
    anti-join broadcasts and the full posting stream never shuffles for
    the pruning step."""
    base = shingled_documents(spark, sf_dir)
    ex = base.select("doc_id", "lang", "source", F.explode("sh").alias("s"))
    hot = (
        ex.groupBy("lang", "source", "s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("lang", "source", "s")
    )
    return ex.join(F.broadcast(hot), ["lang", "source", "s"], "left_anti")


# Jaccard over the df-pruned shingle universe: numerator = shared kept
# shingles, denominator = union of kept shingle sets. Identical formula
# on both engines (see floor_round).
_NGRAM_JACCARD_EXPR = "CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common)"


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id, lang, source, unnest(sh) AS s FROM sh),
dfreq AS (SELECT lang, source, s, count(*) AS df FROM ex GROUP BY lang, source, s),
kept AS (SELECT ex.doc_id, ex.lang, ex.source, ex.s
         FROM ex JOIN dfreq USING (lang, source, s) WHERE df <= {MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM kept x JOIN kept y
    ON x.lang = y.lang AND x.source = y.source AND x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT doc_a, doc_b,
       {floor_round_sql(_NGRAM_JACCARD_EXPR, 6)} AS jaccard
FROM common
JOIN sizes na ON common.doc_a = na.doc_id
JOIN sizes nb ON common.doc_b = nb.doc_id
WHERE {floor_round_sql(_NGRAM_JACCARD_EXPR, 6)} >= {NGRAM_JACCARD_TAU}
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3a: word-3-gram Jaccard near-dup pairs inside (lang, source)
    blocking buckets, keeping pairs with jaccard ≥ 0.1 (the corpus's
    off-diagonal jaccard is ~0, so survivors are true near-dups). The
    self-join equi-keys on the block → the quadratic part is
    bucket-local; output is near-dup pairs only, not the full pair
    matrix. Jaccard is defined over the df-pruned shingle universe
    (pruned_postings): shingles in > MAX_SHINGLE_DF docs are treated as
    boilerplate and excluded from both numerator and denominator — the
    oracle implements the identical pruning."""
    # Inverted-index similarity join (the PPJoin-family shape): explode
    # shingles and equi-join on (block, shingle), so the only pairs
    # that ever materialize are those sharing ≥1 shingle — and a pair
    # with jaccard ≥ τ > 0 always shares one. The naive form (block
    # self-join carrying both shingle *arrays*, then array_intersect)
    # copies ~KB-wide rows through the shuffle for every candidate
    # pair; here the shuffle moves one narrow row per (doc, shingle)
    # and one count per overlapping pair. At 100 TB the quadratic term
    # is bounded per (block, shingle) posting list — and the df cap
    # bounds every posting list, so no single hot shingle can make one
    # list's pair generation quadratic in the corpus.
    kept = pruned_postings(spark, sf_dir)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    inter = F.col("n_common").cast("double")
    union = F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
    return (
        common.join(F.broadcast(sizes.alias("na")), F.col("doc_a") == F.col("na.doc_id"))
        .join(F.broadcast(sizes.alias("nb")), F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", floor_round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_TAU)
    )


# DuckDB SimHash fingerprints ``fp(doc_id, sig)``, the prefix of
# SIMHASH_PAIRS_CTE: each distinct token is hashed once to its 8-nibble
# md5 integer ``h``, and fingerprint bit k is the majority vote of
# bit 4*(7-k//4)+k%4 of ``h`` over the document's tokens.
SIMHASH_FP_CTE = f"""
toks AS (
  SELECT doc_id, {duck_md5_int("token", 8)} AS h
  FROM (SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS token FROM documents)
),
bits AS (
  SELECT doc_id, k, (h >> CAST(4 * (7 - k // 4) + k % 4 AS INTEGER)) & 1 AS bit
  FROM toks CROSS JOIN range({SIMHASH_BITS}) r(k)
),
votes AS (
  SELECT doc_id, k, sum(2 * bit - 1) AS s FROM bits GROUP BY doc_id, k
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)
              AS BIGINT) AS sig
  FROM votes GROUP BY doc_id
)"""


@query(
    "q_dedup_simhash",
    oracle=f"WITH {SIMHASH_FP_CTE} SELECT doc_id, sig AS simhash FROM fp",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: 32-bit SimHash — per distinct token take md5's first 8 hex
    chars as 32 bits; fingerprint bit k is the majority vote over
    tokens. Near-dups then reduce to Hamming-close fingerprints
    (bucketable by fingerprint bands — same LSH trick as MinHash).

    Plan shape: ONE explode (doc × distinct tokens), the token hash
    decoded to a 32-bit int once (`conv`), then a single hash
    aggregation computing all 32 bit-sums as independent aggregates —
    no 32× row blow-up, no second shuffle, fully whole-stage-codegen.
    At 100 TB this shuffles one 33-column partial-agg row per (doc ×
    token-bit-width), i.e. partial aggregation collapses each doc to
    one row map-side.

    Bit k is bit 4*(7-k//4)+k%4 of the 8-nibble md5 integer (bit k % 4
    of hex digit k // 4), as in the oracle's SIMHASH_FP_CTE.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("token")
    ).select("doc_id", F.expr(spark_md5_int("token", 8)).alias("h"))
    bit_sums = [
        F.sum(F.expr(f"shiftright(h, {4 * (7 - k // 4) + k % 4}) & 1")).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ]
    sig = toks.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_sums)
    fingerprint = None
    for k in range(SIMHASH_BITS):
        term = F.when(2 * F.col(f"s{k}") > F.col("n"), F.lit(1 << k)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sig.select("doc_id", fingerprint.cast("long").alias("simhash"))


SIMHASH_BANDS = 4  # 4 bands × 8 bits
SIMHASH_HAMMING_TAU = 3


# Memoized+persisted SimHash fingerprints: the banded-pair query reads
# the fingerprint table from several plan subtrees (bucket stats ×2 +
# both join sides), and without a materialization boundary each subtree
# re-runs the full tokenize+hash+vote pipeline (the dominant cost of
# q_dedup_simhash_pairs in round 2's bench).
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        sf_dir,
        "simhash_fingerprints",
        lambda: q_dedup_simhash(spark, sf_dir).persist(),
    )


# Shared DuckDB CTE block ending in `pairs` — the single source of
# truth for the banded-LSH oracle, reused by q_dedup_simhash_pairs and
# llm/components.py's connected-components oracle so the thresholds
# can never drift between them.
SIMHASH_PAIRS_CTE = f"""{SIMHASH_FP_CTE},
{capped_band_cte("doc_id", band_bits=SIMHASH_BITS // SIMHASH_BANDS, n_bands=SIMHASH_BANDS)},
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
  FROM kept x JOIN kept y
    ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id
  WHERE bit_count(xor(x.sig, y.sig)) <= {SIMHASH_HAMMING_TAU}
)
"""


@query(
    "q_dedup_simhash_pairs",
    oracle=f"WITH {SIMHASH_PAIRS_CTE} SELECT doc_a, doc_b, hamming FROM pairs",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b': SimHash LSH banding — near-dup *pairs* from the
    fingerprints of q_dedup_simhash. Each 32-bit fingerprint splits
    into 4 bands of 8 bits; candidate pairs share at least one exact
    band (a Hamming-≤3 pair must agree on ≥1 band by pigeonhole when
    distance < bands... here the band filter is recall-lossy only for
    pairs whose flipped bits spread across all bands — the standard LSH trade,
    and the oracle implements the identical banding so correctness is
    exact). The equi-join on (band, value) makes candidate generation
    shuffle-bounded by bucket sizes — never N²; hot buckets are
    sub-split/capped by ``capped_banded`` (mirrored in the oracle).
    Verification cost per candidate is one xor+popcount."""
    fp = simhash_fingerprints(spark, sf_dir)
    kept = capped_banded(
        fp.select("doc_id", F.col("simhash").alias("sig")),
        band_bits=SIMHASH_BITS // SIMHASH_BANDS,
        n_bands=SIMHASH_BANDS,
    )
    x, y = kept.alias("x"), kept.alias("y")
    hamming = F.expr("bit_count(x.sig ^ y.sig)")
    return (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.k") == F.col("y.k"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_TAU)
        .distinct()
    )


@query("q_dedup_minhash_lsh")  # rows-only: LSH banding isn't SQL-expressible
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c: MinHash + LSH near-dup candidates via MLlib — 3-gram
    shingles → sparse binary vector (HashingTF) → MinHashLSH(5 tables,
    fixed seed) → approxSimilarityJoin under Jaccard distance < 0.5.
    Shingle features (not unigrams) are what keep this sub-quadratic
    on a same-vocabulary corpus: unigram sets are mutually similar
    corpus-wide, so every pair would collide in some band; 3-gram
    Jaccard is ~0 off-diagonal, so band collisions — and the candidate
    pair set — stay ~linear. Deterministic given the fixed seed;
    checked rows-only plus invariants in tests/test_llm.py."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    base = shingled_documents(spark, sf_dir)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    # Project to (doc_id, features) BEFORE the self-join:
    # approxSimilarityJoin wraps each side's WHOLE row into the
    # datasetA/datasetB structs, so without this the banded join (and
    # its explode-per-hash-table exchange) would carry lang/source and
    # the full shingle string arrays — none of which the output reads
    # (guide §2.3: project before the exchange).
    feat = tf.transform(base).select("doc_id", "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, MINHASH_DIST_TAU, distCol="jaccard_dist")
    return pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.round("jaccard_dist", 4).alias("jaccard_dist"),
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {EMBED_NEAR_TAU}
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3d: embedding-cosine near-dup pairs inside label blocks (the
    blocking key stands in for an LSH/IVF bucket at scale — see
    similarity.py for the bucketed form). HOF cosine in double
    precision, identical fold order to the oracle."""
    from kafka_to_parquet_spark.functions.vectors import dot_expr, norm_expr

    e = load(spark, sf_dir, "embeddings")
    # Precompute each vector's norm ONCE (N folds), so the pairwise
    # stage does a single dot fold per pair instead of three — the
    # cosine dot/(na·nb) is the identical IEEE expression the oracle
    # evaluates, just with the norm subterms hoisted out of the pair
    # loop. Also: project the raw cosine once, then filter the column
    # (filter-first would run the fold twice per pair).
    en = e.select("vec_id", "label", "embedding", F.expr(norm_expr("embedding")).alias("nrm"))
    a = en.alias("a")
    b = en.alias("b")
    cos = F.expr(dot_expr("a.embedding", "b.embedding")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= EMBED_NEAR_TAU)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Angular (random-hyperplane) LSH — the bucketed scale path for embedding
# near-dup. q_dedup_embedding's label blocking is a stand-in whose block
# size is unbounded at 100 TB; here the blocking key is derived from the
# vector itself, so bucket sizes are governed by the signature width, not
# by any data column.

ANGULAR_BITS = 32
ANGULAR_BANDS = 4  # 4 bands × 8 bits, mirroring the SimHash banding
EMBED_DIM = 64


def _angular_sig_terms() -> list[str]:
    """Spark literal sign array per signature bit (the DuckDB twin is
    built unrolled by ``duck_dot_literal`` in ``angular_kept_cte``)."""
    out = []
    for k in range(ANGULAR_BITS):
        body = ",".join("1.0" if s > 0 else "-1.0" for s in hyperplane_signs(k, EMBED_DIM))
        out.append(f"array({body})")
    return out


def angular_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-capped banded signature index (vec_id, sig, b, k) over
    ``angular_signatures``: the Spark twin of ``angular_kept_cte``."""
    return capped_banded(
        angular_signatures(spark, sf_dir),
        band_bits=ANGULAR_BITS // ANGULAR_BANDS,
        n_bands=ANGULAR_BANDS,
    )


def angular_kept_cte() -> str:
    """DuckDB CTE chain ``fp → … → kept``: the hot-bucket-capped
    (vec_id, b, k) band index of the angular signatures, shared by every
    angular-LSH oracle. duck_dot_literal unrolls the ±1-hyperplane dot
    (bit-identical to the fold; 19× faster in DuckDB, which otherwise
    re-builds the 64-element sign literal per lambda invocation)."""
    from kafka_to_parquet_spark.functions.vectors import duck_dot_literal

    bit_terms = " + ".join(
        f"(CASE WHEN {duck_dot_literal('embedding', hyperplane_signs(k, EMBED_DIM))} > 0"
        f" THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k in range(ANGULAR_BITS)
    )
    return f"""fp AS MATERIALIZED (
  SELECT vec_id, {bit_terms} AS sig FROM embeddings
),
{capped_band_cte("vec_id", band_bits=ANGULAR_BITS // ANGULAR_BANDS, n_bands=ANGULAR_BANDS)}"""


def _angular_oracle() -> str:
    from kafka_to_parquet_spark.functions.vectors import duck_dot

    # cos is assembled from per-vector hoisted norms (nv CTE) exactly as
    # duck_cosine would compute it pairwise — same fold, same
    # multiplication order (sqrt(da) * sqrt(db) then divide) — so the
    # doubles are bit-identical while each pair costs 1 dot fold
    # instead of 6 (cosine evaluated in SELECT and WHERE, 3 folds each).
    cos = f"({duck_dot('ea.embedding', 'eb.embedding')} / (ea.nrm * eb.nrm))"
    return f"""
WITH {angular_kept_cte()},
cand AS MATERIALIZED (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM kept x JOIN kept y
    ON x.b = y.b AND x.k = y.k AND x.vec_id < y.vec_id
),
nv AS MATERIALIZED (
  SELECT vec_id, embedding, sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
scored AS MATERIALIZED (
  SELECT c.vec_a, c.vec_b, {cos} AS cos_raw
  FROM cand c
  JOIN nv ea ON ea.vec_id = c.vec_a
  JOIN nv eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cos
FROM scored WHERE cos_raw >= {EMBED_NEAR_TAU}
"""


# Memoized+persisted angular signatures — same multi-subtree argument
# as simhash_fingerprints (the capped band join reads signatures from 3
# subtrees, each of which would otherwise re-run 32 dot-product folds
# per vector).
def angular_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sig): 32-bit random-hyperplane signature per embedding.
    Guards the hard-coded EMBED_DIM: a vector of any other length
    raises at execution time instead of silently null-padding the
    zip_with against the 64-element sign literals (which would yield
    NULL signatures and an empty candidate set while the oracle kept
    computing partial dots — a silent cross-engine divergence)."""
    return memo(
        spark, sf_dir, "angular_signatures", lambda: _angular_sigs(spark, sf_dir)
    )


def _angular_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    from kafka_to_parquet_spark.functions.vectors import dot_expr

    guarded = e.filter(
        F.expr(
            f"CASE WHEN size(embedding) = {EMBED_DIM} THEN true"
            f" ELSE raise_error(concat('q_dedup_embedding_lsh: embedding dim ', "
            f"size(embedding), ' != EMBED_DIM {EMBED_DIM}')) END"
        )
    )
    projs = [
        F.expr(dot_expr("embedding", sl)).alias(f"p{k}")
        for k, sl in enumerate(_angular_sig_terms())
    ]
    sig_col = None
    for k in range(ANGULAR_BITS):
        term = F.when(F.col(f"p{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sig_col = term if sig_col is None else sig_col + term
    return (
        guarded.select("vec_id", *projs)
        .select("vec_id", sig_col.cast("long").alias("sig"))
        .persist()
    )


@query("q_dedup_embedding_lsh", oracle=_angular_oracle())
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3d': embedding near-dup via angular LSH — the 100 TB shape.
    Signature bit k = sign of the projection onto a deterministic ±1
    hyperplane (a zip_with/aggregate dot fold, same machinery as
    dot_expr); 32-bit signatures band into 4×8 bits and candidates
    equi-join on (band, value) exactly like q_dedup_simhash_pairs.
    Candidate generation never touches a data column, so bucket sizes
    are signature-governed, not corpus-governed — the fix for the
    unbounded label blocks of q_dedup_embedding (kept as the
    exact-within-bucket verifier). Recall < 1 by construction (the
    standard LSH trade: a near pair whose differing bits spread over
    all bands is missed); the oracle implements the identical banding
    so correctness is exact.

    Plan shape: the band join moves only (vec_id, band, band_val)
    rows; vectors re-join onto the (distinct, far smaller) candidate
    pair set for exact cosine verification — pair streams stay narrow
    through the shuffle. Hot buckets (a dup-heavy corpus collapsing
    many vectors into one band value) are sub-split/capped by
    ``capped_banded``, mirrored in the oracle."""
    from kafka_to_parquet_spark.functions.vectors import dot_expr, norm_expr

    e = load(spark, sf_dir, "embeddings")
    kept = angular_banded(spark, sf_dir)
    x, y = kept.alias("x"), kept.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.k") == F.col("y.k"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    en = e.select("vec_id", "embedding", F.expr(norm_expr("embedding")).alias("nrm"))
    cos = F.expr(dot_expr("ea.embedding", "eb.embedding")) / (
        F.col("ea.nrm") * F.col("eb.nrm")
    )
    return (
        cand.join(en.alias("ea"), F.col("vec_a") == F.col("ea.vec_id"))
        .join(en.alias("eb"), F.col("vec_b") == F.col("eb.vec_id"))
        .select("vec_a", "vec_b", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= EMBED_NEAR_TAU)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a new crawl batch against the existing corpus
# ---------------------------------------------------------------------------

# The "new batch" slice analog (today's crawl): every 10th doc, offset 7.
INCR_MOD, INCR_REM = 10, 7


@query(
    "q_dedup_incremental",
    oracle=f"""
WITH b AS (SELECT doc_id, sha256(text) AS h FROM documents
           WHERE doc_id % {INCR_MOD} = {INCR_REM}),
c AS (SELECT DISTINCT sha256(text) AS h FROM documents
      WHERE doc_id % {INCR_MOD} <> {INCR_REM}),
k AS (SELECT h, min(doc_id) AS keep FROM b GROUP BY h)
SELECT b.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id <> k.keep THEN 'dup_within_batch'
            ELSE 'new' END AS status
FROM b LEFT JOIN c USING (h) JOIN k USING (h)
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup — the daily-ingest form of X1: a new
    crawl batch is classified against the ALREADY-INGESTED corpus
    without re-deduplicating the corpus itself. Every batch document
    is labeled 'dup_of_corpus' (content hash already ingested),
    'dup_within_batch' (first seen in this batch but not its keeper),
    or 'new' (the batch keeper of an unseen hash) — exactly the
    decision a continuously-updated training corpus makes per delivery.

    Shape: both sides reduce to 32-byte sha-256 digests before any
    join — the corpus contributes a distinct-hash set (at 100 TB this
    is the persisted dedup index, not a rescan; here it derives from
    the same table), and the join shuffles digests, never bodies. The
    within-batch keeper is a batch-sized hash aggregate. The batch is
    typically ~1000× smaller than the corpus, so the planner
    broadcast-joins it against the index scan; nothing is ever
    corpus × batch."""
    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCR_MOD == INCR_REM
    b = docs.filter(is_batch).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h")
    )
    c = (
        docs.filter(~is_batch)
        .select(F.sha2(F.col("text"), 256).alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    k = b.groupBy("h").agg(F.min("doc_id").alias("keep"))
    return (
        b.join(c, "h", "left")
        .join(k, "h")
        .select(
            "doc_id",
            F.when(F.col("in_corpus").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("keep"), "dup_within_batch")
            .otherwise("new")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level (repeated-span) dedup — window fingerprinting
# ---------------------------------------------------------------------------

SUBSTR_W = 8  # tokens per window; production uses ~50-token windows

# The (doc_id, window-hash) explode is consumed by THREE plan subtrees
# (cross-doc dup counts, per-doc totals, per-doc hits); without a
# materialization boundary each subtree re-runs scan + tokenize +
# md5-per-window — the dominant cost — so the table is persisted and
# memoized per (session, sf_dir).
def _window_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, wh) — one 62-bit fingerprint per consecutive
    SUBSTR_W-token window (stride 1, 1-based start position i) of
    every document with ≥ SUBSTR_W tokens. Shared by
    q_dedup_substring (ignores i) and q_dedup_span_strip (maps i back
    to covered token positions)."""
    return memo(spark, sf_dir, "window_hashes", lambda: _windows(spark, sf_dir))


def _windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= SUBSTR_W)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform({word_ngrams('toks', SUBSTR_W)},"
                    f" g -> {spark_h62('g')})"
                )
            ).alias("pos0", "wh"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("i"), "wh")
        .persist()
    )


def _dup_window_hashes(win: DataFrame) -> DataFrame:
    """Fingerprints appearing in ≥2 distinct documents — the shared
    'duplicated window' predicate of the substring-dedup family."""
    return (
        win.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )


def _substring_oracle() -> str:
    # duck_h31 is embedded inside the window lambda below, which binds
    # ``i``. Round 4 shipped this oracle with duck_h31's own nibble
    # lambda ALSO named ``i`` — DuckDB's inner binding shadowed the
    # window index, so nibble position i hashed the window starting at
    # position i (a chimera of 8 windows) and the oracle under-counted
    # 45 vs Spark's correct 47. duck_h31 now binds no lambda variable
    # (functions/hashes.py) and tests/test_hashes.py pins exactly this
    # nesting.
    wh = duck_h62(f"array_to_string(t[i:i+{SUBSTR_W - 1}], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
win AS MATERIALIZED (
  SELECT doc_id, unnest(list_transform(range(1, len(t) - {SUBSTR_W} + 2),
                                       i -> {wh})) AS wh
  FROM toks WHERE len(t) >= {SUBSTR_W}
),
dup AS (SELECT wh FROM win GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
per AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id),
hit AS (SELECT doc_id, count(*) AS n_dup FROM win JOIN dup USING (wh) GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT)    AS doc_id,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(n_dup AS BIGINT)     AS n_dup,
       CAST(n_dup * 10000 // n_windows AS BIGINT) AS dup_bp
FROM per JOIN hit USING (doc_id)
"""


@query("q_dedup_substring", oracle=_substring_oracle())
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3e: substring-level duplication profile — the window-
    fingerprint analog of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    uses suffix arrays; suffix arrays don't distribute, sliding-window
    fingerprints do and are what large-scale pipelines ship).

    Every document contributes one fingerprint per consecutive
    {SUBSTR_W}-token window (stride 1). A window position is
    *duplicated* if its fingerprint also appears in at least one OTHER
    document. Output, per document with at least one duplicated span:
    total window positions, duplicated positions, and the duplication
    ratio in integer basis points — the signal used to strip
    boilerplate/licence spans or drop mostly-copied documents, which
    doc-level dedup (q_dedup_exact .. q_dedup_minhash) cannot see.

    Both engines work over the SAME 62-bit md5 window-hash universe
    (spark_h62 ↔ duck_h62 — widened from 31 bits after the round-10
    sf≈10 stress measured 10.1% false-positive dup hashes at ~30M
    windows; at 2^62 the expected FP pair count stays <1 up to ~10^9
    windows), so any residual collision merges the same two windows
    on both sides and the driver's value check stays exact; all
    output columns are integers.

    100 TB shape: explode to (doc, window-hash) longs — never window
    STRINGS, an 8-word string shuffle would be ~50× the bytes — then
    one groupBy(wh) for cross-doc counts, one hash join back on wh,
    and one groupBy(doc). Linear in corpus token count, no pairwise
    stage at all; the only scale knob is window stride (production
    strides >1 trade span-boundary precision for proportionally fewer
    rows). Skew-safe: a boilerplate window hash concentrates its
    POSTINGS on one reducer only during the count, which is a
    map-side-combinable sum, not a list materialization."""
    win = _window_hashes(spark, sf_dir)
    dup = _dup_window_hashes(win)
    per = win.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    hit = win.join(dup, "wh").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    return per.join(hit, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup").cast("long").alias("n_dup"),
        F.expr("CAST(n_dup * 10000 DIV n_windows AS BIGINT)").alias("dup_bp"),
    )


# ---------------------------------------------------------------------------
# Bag-of-words (order-invariant) exact dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_bag",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         md5(array_to_string(list_sort({_TOKENS_SQL}), ' ')) AS bh
  FROM documents
),
g AS (
  SELECT bh, CAST(min(doc_id) AS BIGINT) AS keep_id,
         CAST(count(*) AS BIGINT) AS group_size
  FROM t GROUP BY bh HAVING count(*) >= 2
)
SELECT t.doc_id, g.keep_id, g.group_size FROM t JOIN g USING (bh)
""",
)
def q_dedup_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b: order-invariant exact dedup — two documents are duplicates
    if they contain the SAME token multiset (shuffled/reordered copies,
    which byte-exact dedup misses and similarity dedup only catches
    above its threshold). The canonical form is the md5 of the SORTED
    token list; members of any bag-group of size ≥ 2 are reported with
    their keeper (min doc_id) and group size.

    100 TB shape: identical to q_dedup_exact — each document collapses
    to one 16-byte digest map-side (sort_array is per-row, no shuffle),
    then one hash aggregate on the digest and one join back. Linear,
    no pairwise stage; the shuffle carries digests, never bodies."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(tokens_col(F.col("text"))))).alias("bh"),
    )
    g = (
        t.groupBy("bh")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count("*").cast("long").alias("group_size"),
        )
        .filter(F.col("group_size") >= 2)
    )
    return t.join(g, "bh").select("doc_id", "keep_id", "group_size")


# ---------------------------------------------------------------------------
# Duplicated-span stripping — the removal form of substring dedup
# ---------------------------------------------------------------------------


def _span_strip_oracle() -> str:
    # Window hash computed on a PLAIN column (i comes from an unnest,
    # not a lambda), so duck_h31 composes with no nesting at all —
    # the restructure the round-4 ADVICE suggested for this family.
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
aff AS (SELECT DISTINCT doc_id FROM hit),
cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + {SUBSTR_W})) AS p FROM hit),
tok AS (
  SELECT toks.doc_id, CAST(generate_subscripts(t, 1) AS BIGINT) AS p,
         unnest(t) AS tk
  FROM toks JOIN aff USING (doc_id)
),
kept AS (
  SELECT tok.doc_id, tok.p, tok.tk
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
  WHERE cov.p IS NULL
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tk, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       coalesce(g.n_kept, 0) AS n_kept,
       coalesce(g.cleaned, '') AS cleaned
FROM aff a LEFT JOIN agg g USING (doc_id)
"""


@query("q_dedup_span_strip", oracle=_span_strip_oracle())
def q_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3e': duplicated-span REMOVAL — the transformation half of
    substring dedup (q_dedup_substring is the profile half): for every
    document containing at least one duplicated window, emit the
    document with all tokens covered by ANY cross-document-duplicated
    {SUBSTR_W}-token window removed — exactly the span-drop that Lee
    et al. 2022 apply from suffix-array matches, in the distributed
    window-fingerprint formulation. A token position p is covered if
    some duplicated window [i, i+W-1] contains it. Output: affected
    doc_id, surviving token count, and the cleaned text (possibly ''
    when a document is wholly boilerplate).

    100 TB shape: reuses the persisted (doc, position, window-hash)
    explode; coverage is a positions explode (W rows per duplicated
    window — W is a small constant) distinct-ed per doc, and the strip
    is a left-anti join on (doc, position) followed by one per-doc
    sort-and-concat aggregate. Everything keys on doc_id or a (doc,
    int) pair — linear, partition-friendly, no pairwise stage. The
    per-doc collect_list is bounded by document length (a few KB), the
    same bound any per-doc reconstruction pays."""
    win = _window_hashes(spark, sf_dir)
    dup = _dup_window_hashes(win)
    # (doc_id, i) is unique in win by construction (one row per window
    # position) and dup is a distinct wh set, so the join preserves
    # uniqueness — no distinct, which would re-shuffle the largest
    # intermediate (every window row, at mass-duplication 100% of them).
    hit = win.join(dup, "wh").select("doc_id", "i")
    aff = hit.select("doc_id").distinct()
    cov = (
        hit.select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {SUBSTR_W - 1})")).alias("p"),
        )
        .distinct()
    )
    d = load(spark, sf_dir, "documents")
    tok = (
        d.join(aff, "doc_id")
        .select("doc_id", F.posexplode(tokens_col(F.col("text"))).alias("p0", "tk"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("p"), "tk")
    )
    kept = tok.join(cov, ["doc_id", "p"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(p, tk))),"
            " s -> s.tk))"
        ).alias("cleaned"),
    )
    return aff.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


# ---------------------------------------------------------------------------
# Typo-level dedup: edit-distance-1 vocabulary pairs via deletion
# neighborhoods (FastSS / SymSpell blocking)
# ---------------------------------------------------------------------------


def _typo_deletions_sql(word: str) -> str:
    """DuckDB: the distance-0/1 deletion neighborhood of ``word`` —
    the word itself plus every single-character deletion, deduped."""
    return (
        f"list_distinct(list_prepend({word}, "
        f"list_transform(range(1, len({word}) + 1), "
        f"i -> substring({word}, 1, CAST(i - 1 AS INTEGER)) || "
        f"substring({word}, CAST(i + 1 AS INTEGER), len({word})))))"
    )


@query(
    "q_dedup_typo",
    oracle=f"""
WITH vocab AS (
  SELECT DISTINCT word
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
),
keys AS (
  SELECT word, unnest({_typo_deletions_sql('word')}) AS k FROM vocab
),
cand AS (
  SELECT DISTINCT a.word AS word_a, b.word AS word_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.word < b.word
)
SELECT word_a, word_b,
       CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(word_a, word_b) <= 1
""",
)
def q_dedup_typo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1c: typo-level vocabulary dedup — every pair of corpus words
    within edit distance 1 (one substitution, insertion, or deletion),
    the spell-variant detector feeding OCR cleanup / token-merge maps.

    Scale technique (FastSS / SymSpell, public): all-pairs Levenshtein
    over a vocabulary is |V|² — instead each word generates its
    DELETION NEIGHBORHOOD (itself + every single-char deletion, ≤
    len+1 keys), two words within edit distance 1 provably share at
    least one key (b = deletion of a → key b; substitution at i →
    both words' deletion-at-i agree), and the candidate set is a hash
    EQUI join on the key with exact Levenshtein as the residual
    verifier (a shared key is necessary, not sufficient: 'ab'/'ba'
    share {{a,b}} but sit at distance 2 — the filter removes them).
    Candidate volume is Σ key-bucket², bounded by word length × bucket
    occupancy, never |V|²; the same prefix-postings discipline as
    q_dedup_jaccard_prefix one granularity down. The whole query runs
    over the VOCABULARY (one map-side-combinable distinct of corpus
    words), so corpus size only enters through the initial word scan.
    """
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word")).distinct()
    )
    keys = vocab.select(
        "word",
        F.explode(
            F.expr(
                "array_distinct(concat(array(word),"
                " transform(sequence(1, length(word)),"
                " i -> concat(substring(word, 1, i - 1),"
                " substring(word, i + 1, length(word))))))"
            )
        ).alias("k"),
        # both self-join sides consume this subtree and Catalyst has no
        # cross-subtree CSE — checkpoint so the corpus scan + distinct
        # + deletion explode run once (vocabulary-sized, cheap to hold)
    ).localCheckpoint()
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.word") < F.col("b.word")))
        .select(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("word_a", "word_b").cast("long")
    ).filter(F.col("dist") <= 1)


@query(
    "q_dup_provenance",
    oracle="""
WITH fam AS (
  SELECT sha256(text) AS fp, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY sha256(text), source
),
cross_pairs AS (
  SELECT a.source AS sa, b.source AS sb, CAST(sum(a.c * b.c) AS BIGINT) AS p
  FROM fam a JOIN fam b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source
),
same_pairs AS (
  SELECT source AS sa, source AS sb, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS p
  FROM fam WHERE c >= 2 GROUP BY source
)
SELECT sa, sb, CAST(sum(p) AS BIGINT) AS dup_pairs
FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs)
GROUP BY sa, sb
""",
)
def q_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how
    many exact-duplicate document pairs span them — the provenance
    diagnostic behind mirror detection ("src3 is a scrape of src7")
    and dedup-order policy (which source's copy to keep). The
    actionable rollup of q_dedup_exact's families.

    NO pair explosion: a family with c_a copies in source a and c_b in
    source b contributes exactly c_a·c_b cross pairs and C(c_a, 2)
    within-source pairs — computed from the (family, source, count)
    aggregate by COMBINATORICS, never by materializing the quadratic
    pair set that q_dedup_minhash's stress run showed growing 234×.
    This is the family-form answer SCALING.md's span-strip audit names
    as the production shape for mass-duplicated corpora.

    Shape: digest-only shuffle to (fp, source) counts (the
    q_dedup_exact discipline — 32-byte hashes, not bodies); the
    self-join keys on fp with per-family fan-out bounded by |sources|;
    output is the ≤|sources|² matrix."""
    fam = (
        load(spark, sf_dir, "documents")
        .select(F.sha2("text", 256).alias("fp"), "source")
        .groupBy("fp", "source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    a = fam.select("fp", F.col("source").alias("sa"), F.col("c").alias("ca"))
    b = fam.select("fp", F.col("source").alias("sb"), F.col("c").alias("cb"))
    cross = (
        a.join(b, "fp")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("p"))
    )
    same = (
        fam.filter(F.col("c") >= 2)
        .select(
            F.col("source").alias("sa"),
            F.col("source").alias("sb"),
            F.expr("c * (c - 1) DIV 2").alias("p"),
        )
        .groupBy("sa", "sb")
        .agg(F.sum("p").cast("long").alias("p"))
    )
    return (
        cross.unionByName(same)
        .groupBy("sa", "sb")
        .agg(F.sum("p").cast("long").alias("dup_pairs"))
    )
