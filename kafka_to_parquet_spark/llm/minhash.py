"""Deterministic MinHash + LSH near-dup detection — the oracle-checked
twin of llm/dedup.py's MLlib ``q_dedup_minhash_lsh``.

Why a second MinHash: the MLlib path (``MinHashLSH.approxSimilarityJoin``)
is the library-grade implementation, but its hash family lives inside
Spark ML, so the driver can only rows-check it. This module builds the
identical algorithm — k universal hash functions over shingle hashes,
min-signature per document, banded candidate join, exact-Jaccard verify
— out of expressions BOTH engines evaluate bit-identically (md5 nibble
folds + integer linear hashes mod a Mersenne prime), so the full
candidate set and verified similarity are value-checked against DuckDB.

100 TB shape: one explode to (doc, shingle) rows; the signature is a
single map-side-combinable hash aggregate (16 ``min`` columns — each
doc collapses to one row before the exchange); banding fans each doc
into 8 narrow (band, key) rows; candidate generation is an equi-join on
(band, key) whose quadratic term is confined to one band bucket, with
buckets above ``MAX_BAND_BUCKET`` dropped (mirrored in the oracle — a
bucket that hot means exact dedup upstream was skipped). Shingle
arrays are only re-joined onto the (far smaller) verified candidate
set, so the wide rows never enter the pairwise shuffle.

Reference parity: the reference (src/main.rs:59-294) has no similarity
surface; this is part of the mandated LLM-pipeline extension
(SURVEY §2.11 X3).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.functions.hashes import H31_P, duck_h31, spark_h31
from kafka_to_parquet_spark.functions.rounding import floor_round, floor_round_sql
from kafka_to_parquet_spark.llm.dedup import (
    _SHINGLES_SQL,
    MAX_BAND_BUCKET,
    shingled_documents,
)
from kafka_to_parquet_spark.registry import query

# Mersenne prime 2^31 - 1 (see functions/hashes.py): hash values stay
# < 2^31, so a*h + b < 2^62 and band keys m_even * P + m_odd < P^2 <
# 2^62 — every intermediate fits a signed 64-bit integer in both
# engines, no overflow semantics to reconcile.
MH_P = H31_P
MH_NUM_HASHES = 16
MH_BANDS = 8  # 8 bands × 2 rows: P(candidate) = 1-(1-s^2)^8 — ~0.90 at s=0.5
MH_ROWS = 2


def _mh_coeffs() -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function, 1 ≤ a < P, 0 ≤ b < P —
    derived from md5 of the function index (the _hyperplane_signs
    discipline: generated once in Python, inlined as literals into BOTH
    engines' SQL, so there is no cross-engine RNG to reconcile)."""
    out = []
    for i in range(MH_NUM_HASHES):
        a = int.from_bytes(hashlib.md5(f"mh_a_{i}".encode()).digest()[:8], "big")
        b = int.from_bytes(hashlib.md5(f"mh_b_{i}".encode()).digest()[:8], "big")
        out.append((a % (MH_P - 1) + 1, b % MH_P))
    return out


# The base hash every linear hash function is applied to is
# spark_h31/duck_h31 from functions/hashes.py (hoisted there in round
# 5 — it is shared with llm/dedup.py and llm/corpus_stats.py, and
# importing it FROM here forced decoration-time lazy imports because
# this module imports dedup at its top).

_SPARK_H = spark_h31("s")
_DUCK_H = duck_h31("s")

_JACCARD_DUCK = (
    "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
    " / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
)


def _minhash_kept_cte() -> str:
    """CTE chain through ``kept`` — the hot-bucket-capped (doc, band,
    key) table every banded-LSH oracle joins on — plus the shingle
    table ``sh`` it is defined over. Single source of truth for the
    q_dedup_minhash / q_lsh_recall / q_dedup_minhash_incr oracles."""
    coeffs = _mh_coeffs()
    mins = ",\n         ".join(
        f"min(({a} * hm + {b}) % {MH_P}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    keys = ", ".join(
        f"m{2 * j} * CAST({MH_P} AS BIGINT) + m{2 * j + 1}" for j in range(MH_BANDS)
    )
    return f"""sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
h AS (SELECT doc_id, ({_DUCK_H}) AS hm FROM ex),
sig AS (SELECT doc_id,
         {mins}
        FROM h GROUP BY doc_id),
bands AS (
  SELECT doc_id, CAST(generate_subscripts(ks, 1) - 1 AS INTEGER) AS b, unnest(ks) AS k
  FROM (SELECT doc_id, [{keys}] AS ks FROM sig)
),
cnt AS (SELECT b, k, count(*) AS c FROM bands GROUP BY b, k),
kept AS (SELECT bands.* FROM bands JOIN cnt USING (b, k) WHERE c <= {MAX_BAND_BUCKET})"""


def _minhash_cand_cte() -> str:
    """``kept`` extended with the undirected candidate pair set."""
    return f"""{_minhash_kept_cte()},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM kept x JOIN kept y ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_cand_cte()}
SELECT doc_a, doc_b,
       {floor_round_sql(_JACCARD_DUCK, 6)} AS jaccard
FROM cand
JOIN sh sa ON cand.doc_a = sa.doc_id
JOIN sh sb ON cand.doc_b = sb.doc_id
"""


# The hot-bucket-capped (doc_id, band, key) table — the Spark twin of
# _minhash_kept_cte(), shared by q_dedup_minhash and
# q_dedup_minhash_incr (and transitively q_lsh_recall). Persisted +
# memoized: the signature aggregate over every shingle is the
# expensive half of the banded join, and three declared queries read
# it; this is the "LSH index" a production corpus persists between
# ingests.
def kept_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(spark, sf_dir, "kept_bands", lambda: _kept_bands(spark, sf_dir))


def _kept_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = shingled_documents(spark, sf_dir)
    ex = base.select("doc_id", F.explode("sh").alias("s"))
    h = ex.select("doc_id", F.expr(_SPARK_H).alias("hm"))
    mins = [
        F.min(F.expr(f"({a} * hm + {b}) % {MH_P}")).alias(f"m{i}")
        for i, (a, b) in enumerate(_mh_coeffs())
    ]
    sig = h.groupBy("doc_id").agg(*mins)
    keys = F.array(
        *[
            F.expr(f"m{2 * j} * CAST({MH_P} AS BIGINT) + m{2 * j + 1}")
            for j in range(MH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.posexplode(keys).alias("b", "k"))
    cnt = bands.groupBy("b", "k").agg(F.count(F.lit(1)).alias("c"))
    return (
        bands.join(cnt, ["b", "k"])
        .filter(F.col("c") <= MAX_BAND_BUCKET)
        .drop("c")
        .persist()
    )


def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected candidate PAIR SET from the banded self-join —
    the Spark twin of ``_minhash_cand_cte()``'s ``cand``. Factored out
    of q_dedup_minhash so q_lsh_recall (which only audits WHICH pairs
    the bands surface) doesn't drag the exact-Jaccard verification
    joins along: Catalyst can't prune an inner join, so consuming
    q_dedup_minhash's full plan would re-run the two shingle-table
    joins and per-pair array_intersect just to discard the column."""
    kept = kept_bands(spark, sf_dir)
    x, y = kept.alias("x"), kept.alias("y")
    return (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.k") == F.col("y.k"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c': deterministic MinHash-LSH near-dup candidates with exact
    Jaccard verification — value-checked against the oracle (unlike the
    MLlib twin, whose hash family is library-internal).

    Algorithm: per distinct word-3-gram shingle, base hash = first 32
    md5 bits mod P (P = 2^31-1); 16 universal hashes h_i = (a_i·h +
    b_i) mod P; signature = per-doc min of each h_i (one hash
    aggregate, map-side combinable); 8 bands of 2 rows, band key =
    m_even·P + m_odd (integer-exact, collision-free within a band);
    candidates share ≥1 band key; each candidate pair is verified with
    the exact Jaccard of the full shingle sets. The LSH s-curve
    (1-(1-s²)^8) is the only recall loss, and the oracle implements
    the identical banding, so correctness is exact.

    Hot-bucket control: band buckets holding more than MAX_BAND_BUCKET
    docs are dropped (a bucket that hot is a mass-duplicate family that
    exact dedup upstream should have removed); the bucket-stats join
    keys on (band, key) — the SAME key as the candidate self-join, so
    the exchange is reused, and no corpus-sized table is broadcast."""
    cand = minhash_candidates(spark, sf_dir)
    base = shingled_documents(spark, sf_dir)
    sh = base.select("doc_id", "sh")
    inter = F.expr("CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE)")
    union = F.expr(
        "size(sa.sh) + size(sb.sh) - size(array_intersect(sa.sh, sb.sh))"
    )
    return (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", floor_round(inter / union, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (PPJoin family)
# ---------------------------------------------------------------------------

PREFIX_TAU = 0.5  # Jaccard threshold; ceil(tau*n) == (n+1) DIV 2 — pure integer

# Prefix extension / required match count for the COUNTING form of the
# prefix filter (round 14, both PPJoin-family queries): each side's
# prefix extends K-1 tokens past the minimal share-one-token prefix
# and a candidate pair must share >= min(K, ceil(tau*n) per side) of
# them. Measured at sf0.1 (124,980 share-one-token candidates, 256
# verified): K=2 -> 13,375 candidates, K=3 -> 840 (+9% match rows) —
# answer-sized, which is what lets verification run over AQE
# broadcasts and the whole operator drop the r12/r13 auto-sharding.
PREFIX_K = 3

# Memoized+persisted hashed shingle sets — the verification stage reads
# them from two subtrees and bench sweeps re-call the query.
def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return (
            shingled_documents(spark, sf_dir)
            .filter(F.size("sh") > 0)
            .select(
                "doc_id",
                F.expr(
                    f"array_distinct(transform(sh, s -> {spark_h31('s')}))"
                ).alias("hs"),
            )
            .persist()
        )

    return memo(spark, sf_dir, "hashed_shingles", build)


def _posting_plans(spark: SparkSession, sf_dir: str, prefix_len_sql: str):
    """Un-materialized (full, prefix) posting plans off the hashed-
    shingle table — the single definition every PPJoin-family caller
    builds from, so the canonical (df, h) ordering and df computation
    can never drift."""
    from pyspark.sql import Window

    hsh = _hashed_shingles(spark, sf_dir)
    ex = hsh.select("doc_id", F.explode("hs").alias("h"))
    sized = hsh.select("doc_id", F.size("hs").alias("n"))
    full = ex.join(sized, "doc_id")
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        ex.join(dfreq, "h")
        .withColumn("rk", F.row_number().over(w))
        .join(sized, "doc_id")
        .filter(F.col("rk") <= F.expr(prefix_len_sql))
        .select("doc_id", "h", "n", "rk")
    )
    return hsh, full, prefix


def _cached_postings(
    spark: SparkSession, sf_dir: str, prefix_len_sql: str, names: tuple[str, ...]
) -> dict[str, DataFrame]:
    """The requested posting tables ({"full", "prefix"} ⊆), persisted
    lazily PER NAME through the feature memo — a caller
    that only joins prefixes (q_dedup_jaccard_prefix) never marks the
    full relation persisted. Canonical shingle order is (document
    frequency, hash) — rarest first — and ``prefix_len_sql`` is an
    integer expression in ``n`` (the doc's distinct-shingle count)
    giving the per-doc prefix length for the caller's threshold.
    Prefix postings carry ``rk`` (the token's 1-based canonical
    position) so callers can apply the PPJoin positional filter."""
    _, full, prefix = _posting_plans(spark, sf_dir, prefix_len_sql)
    plans = {"full": full, "prefix": prefix}
    # One memo entry per variant: 'postings:full' plus one
    # 'postings:prefix:<expr>' per caller threshold. PERSISTING THESE
    # IS LOAD-BEARING, not a convenience: the Jaccard self-join
    # references the prefix relation through TWO aliases, and without
    # the persist each alias re-executes the entire
    # explode → df-join → per-doc window → size-join pipeline — at the
    # sf≈100 stress that doubled ~3 corpus-sized shuffles into ~65 GB
    # of scratch and filled the disk. With the persist the pipeline
    # runs once and both join sides read the cached blocks (in-job
    # block reuse).
    out: dict[str, DataFrame] = {}
    for nm in names:
        k = f"prefix:{prefix_len_sql}" if nm == "prefix" else nm
        out[nm] = memo(
            spark, sf_dir, f"postings:{k}", lambda nm=nm: plans[nm].persist()
        )
    return out


def _prefix_postings(spark: SparkSession, sf_dir: str, prefix_len_sql: str):
    """Back-compat accessor for callers that want the classic triple
    (q_shard_balance): (hashed-shingle table, full postings, prefix
    postings), persisted through the feature memo."""
    frames = _cached_postings(
        spark, sf_dir, prefix_len_sql, ("full", "prefix")
    )
    return _hashed_shingles(spark, sf_dir), frames["full"], frames["prefix"]


# Per-pass posting budget behind :func:`ppjoin_shards` — retained as
# the capacity measure ``q_shard_balance`` certifies (its oracle
# re-derives ceil(postings / budget) in SQL). Historically (r12/r13)
# this selected the PPJoin shard-loop pass count; the round-14
# counting prefix filter removed the shard loop itself (see
# ppjoin_shards docstring). Sized from the r13 sf≈100 stress: the
# 260M-posting pair corpus ran measured-optimal at ~65M postings/pass
# (S=4: 212 s vs the 392-416 s single-pass cliff under the OLD
# share-one-token plan whose verification scratch scaled with posting
# mass). The env knob re-tunes it without code changes.
PPJOIN_TARGET_POSTINGS = 80_000_000

# Memoized per-(session, sf_dir) posting count — sum over docs of
# |distinct shingle hashes|, i.e. the exact row count of the 'full'
# posting table. One map-side aggregate over the persisted hashed-
# shingle relation, which PPJoin verification materializes anyway, so
# the estimate costs nothing the join wasn't already paying.
def _posting_count(spark: SparkSession, sf_dir: str) -> int:
    def build() -> int:
        row = _hashed_shingles(spark, sf_dir).agg(
            F.sum(F.size("hs")).alias("n")
        ).first()
        return int(row[0] or 0)

    return memo(spark, sf_dir, "posting_count", build)


def ppjoin_shards(
    spark: SparkSession | None = None, sf_dir: str | None = None
) -> int:
    """Posting-universe shard count the r12/r13 PPJoin shard loop
    WOULD select for this corpus — S = ceil(posting_count /
    ``PPJOIN_TARGET_POSTINGS``), clamped to [1, 64], pinnable via
    ``$KTPS_PPJOIN_SHARDS`` / re-budgeted via
    ``$KTPS_PPJOIN_TARGET_POSTINGS``.

    Since round 14 NO query executes a shard loop: the counting form
    of the prefix filter (q_dedup_jaccard_prefix /
    q_dedup_containment) makes candidate sets answer-sized, which
    removes the ~1 KB/candidate verification exchange that sharding
    existed to bound (r12 measured it at ~50-60 GB / ~125M candidate
    rows at sf≈100 — the spill cliff), and per-pair match COUNTING is
    incompatible with pmod token sharding anyway (a pair's prefix
    matches would split across passes and undercount). The selection
    rule itself remains the per-pass posting-budget CAPACITY measure —
    ``q_shard_balance`` reports it (its ``auto_shards`` column
    re-derives this exact integer arithmetic in SQL, certified by the
    driver's hash check) so an operator can still read how many
    budget-sized passes a corpus' posting mass represents."""
    env = os.environ.get("KTPS_PPJOIN_SHARDS", "")
    if env:
        return max(1, int(env))
    if spark is None or sf_dir is None:
        return 1
    target = max(
        1,
        int(os.environ.get("KTPS_PPJOIN_TARGET_POSTINGS", "0"))
        or PPJOIN_TARGET_POSTINGS,
    )
    return min(64, max(1, -(-_posting_count(spark, sf_dir) // target)))


@query(
    "q_dedup_jaccard_prefix",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
hs AS (
  SELECT doc_id, list_distinct(list_transform(sh, s -> {duck_h31('s')})) AS hs
  FROM sh WHERE len(sh) > 0
),
ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT doc_a, doc_b,
       {floor_round_sql('CAST(n_common AS DOUBLE) / (len(sa.hs) + len(sb.hs) - n_common)', 6)}
         AS jaccard
FROM common
JOIN hs sa ON common.doc_a = sa.doc_id
JOIN hs sb ON common.doc_b = sb.doc_id
WHERE {floor_round_sql('CAST(n_common AS DOUBLE) / (len(sa.hs) + len(sb.hs) - n_common)', 6)}
      >= {PREFIX_TAU}
""",
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the PPJoin-family
    candidate generation): all document pairs with shingle Jaccard >=
    0.5, found WITHOUT any blocking key and without comparing all
    co-shingle pairs.

    Prefix-filtering lemma: order the shingle universe canonically
    (here by (document frequency, shingle hash) — rarest first, so
    prefixes carry the most selective tokens); a pair with J >= tau has
    overlap >= ceil(tau*|s|) on each side, and two sets with overlap
    >= a MUST share an element within their first (|s| - a + 1)
    elements. So joining only the per-doc PREFIX postings
    (p = n - ceil(tau*n) + 1, in pure integers for tau = 1/2 as
    n - (n+1) DIV 2 + 1) generates a candidate superset; a length
    filter (J >= 1/2 implies set sizes within 2x) prunes further —
    both are lossless, and the ORACLE is the naive
    all-co-shingle-pairs join, so the driver's value check proves the
    combined filter loses nothing.

    Everything runs over 31-bit md5 shingle hashes, not shingle
    strings — SKETCH-TIER BY DESIGN (functions/hashes.py:58: the
    31-bit space is for set-similarity sketches, NOT identity
    fingerprints; identity uses the 62-bit ``h62``): postings, the df
    table, the candidate join key, and the verification arrays are
    all ints — the posting shuffle is ~3x narrower and the
    verification intersect compares longs. Jaccard is thus defined
    over the hashed distinct-shingle universe (declared semantics,
    identical in both engines — a hash collision merges the same two
    shingles on both sides, perturbing similarity by at most one
    shingle's weight, never inventing a false document identity).

    Scale shape (round-14: the COUNTING form of the lemma, both
    sides): candidate generation moves only prefix postings, extended
    by K-1 = 2 tokens past the minimal prefix (the rarest
    ~half at tau=0.5 — hot boilerplate shingles land OUTSIDE the
    prefix, so no df cap is needed); the per-doc prefix selection is a
    doc-keyed window. A pair with J >= tau has overlap >=
    ceil(tau·max(nx, ny)), so at most m_s = n_s - ceil(tau·n_s) of
    side s's shingles are missing from the other side, and the pair's
    j-th common canonical token sits at rank <= m_s + j in EACH list —
    its first min(K, overlap) common tokens therefore all land inside
    BOTH extended prefixes. Aggregating the prefix match rows per pair
    and requiring count >= min(K, ceil(tau·nx), ceil(tau·ny)) is thus
    lossless (same oracle — the naive all-co-shingle-pairs join — so
    the driver's value check proves it), and ~150× more selective than
    the r13 share-one-token + positional form: measured at sf0.1,
    124,980 candidates → 840 for 256 verified pairs, at +9% posting
    match rows (K=2 gave 13,375). Verification joins the int hash
    arrays onto that answer-sized candidate set only — AQE broadcasts
    it into both joins, so the array table is never exchanged.

    The counting form also removes the r12/r13 AUTO-SHARDING
    (:func:`ppjoin_shards`) from this operator: the thing sharding
    bounded — the ~1 KB/candidate verification exchange, ~125M rows /
    50-60 GB at sf≈100 — no longer exists (candidates ≈ answers), and
    counting is incompatible with pmod token sharding anyway (a
    pair's prefix matches would split across passes and undercount).
    Single-pass at every decade; the posting join moves narrow ints
    and its per-pair aggregate combines map-side. Run exact dedup
    upstream first regardless, it shrinks the universe for free."""
    hsh = _hashed_shingles(spark, sf_dir)
    inter = F.expr("CAST(size(array_intersect(sa.hs, sb.hs)) AS DOUBLE)")
    union = F.expr(
        "size(sa.hs) + size(sb.hs) - size(array_intersect(sa.hs, sb.hs))"
    )
    # ceil(tau*n) = (n+1) DIV 2 at tau = 1/2.
    frames = _cached_postings(
        spark, sf_dir, f"n - ((n + 1) DIV 2) + {PREFIX_K}", ("prefix",)
    )
    x, y = frames["prefix"].alias("x"), frames["prefix"].alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            # length filter: J >= 1/2 forces |a| <= 2|b|, |b| <= 2|a|
            & (F.col("x.n") <= 2 * F.col("y.n"))
            & (F.col("y.n") <= 2 * F.col("x.n")),
        )
        # count matches per pair (nx/ny are functionally dependent on
        # the ids — kept in the key so the threshold can read them)
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.n").alias("nx"),
            F.col("y.n").alias("ny"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(
            F.expr(
                f"c >= least({PREFIX_K}, (nx + 1) DIV 2, (ny + 1) DIV 2)"
            )
        )
        .select("doc_a", "doc_b")
    )
    # no join hints: the candidate relation is ~answer-sized, so AQE
    # broadcasts it into both verification joins (see
    # q_dedup_containment — same shape, same reasoning).
    return (
        cand.join(hsh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(hsh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b", floor_round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= PREFIX_TAU)
    )


# ---------------------------------------------------------------------------
# Asymmetric containment: near-subset detection (doc quoted inside doc)
# ---------------------------------------------------------------------------

CONT_TAU_NUM, CONT_TAU_DEN = 4, 5  # containment threshold 0.8

# Prefix extension / required match count for the counting form of the
# containment prefix filter (see q_dedup_containment): a's prefix is
# extended by K-1 tokens beyond the minimal share-one-token prefix and
# a candidate pair must share >= min(K, ceil(tau*|a|)) of them.
# Measured at sf0.1 (205,876 share-one-token candidates, 512 verified):
# K=2 -> 3,898 candidates (+13% match rows), K=3 -> 571 (+27%),
# K=4 -> 513 (+41%). K=3 is the knee — candidates are ~answer-sized
# while the posting-join growth is still small.
CONT_PREFIX_K = 3

@query(
    "q_dedup_containment",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
hs AS (
  SELECT doc_id, list_distinct(list_transform(sh, s -> {duck_h31('s')})) AS hs
  FROM sh WHERE len(sh) > 0
),
ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id <> y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT doc_a, doc_b,
       {floor_round_sql('CAST(n_common AS DOUBLE) / len(sa.hs)', 6)} AS containment
FROM common
JOIN hs sa ON common.doc_a = sa.doc_id
WHERE n_common * {CONT_TAU_DEN} >= len(sa.hs) * {CONT_TAU_NUM}
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment self-join: ordered pairs (a, b) where at
    least {CONT_TAU_NUM}/{CONT_TAU_DEN} of a's distinct shingles also
    appear in b — the near-SUBSET detector (boilerplate wrapping,
    quoted articles, doc-inside-doc) that symmetric Jaccard misses: a
    short doc fully embedded in a long one has tiny Jaccard but
    containment 1.0.

    Candidate generation is the prefix-filter lemma of
    q_dedup_jaccard_prefix in its COUNTING form (round-13 verdict
    item 2 — the share-one-token form gave the asymmetric join no
    second-side filter and a candidate set ~400× the answer):
    C(a→b) >= tau means at most m = |a| - ceil(tau·|a|) of a's
    shingles are missing from b, so among a's first
    p = min(|a|, m + K) canonical-order (rarest-first) shingles at
    least p - m = min(K, ceil(tau·|a|)) MUST appear in b. The join of
    a's (K-1)-extended prefix postings against b's full postings is
    therefore aggregated per (a, b) pair and kept only when the match
    COUNT reaches that bound — lossless by the same missing-budget
    argument (pinned on the adversarial corpus in
    tests/test_prefix_lossless.py), and ~360× more selective than the
    share-one-token candidate set at K=3 (measured at sf0.1:
    205,876 → 571 candidates for 512 verified pairs, at +27% posting
    match rows). The only length constraint stays |b| >= tau·|a| (the
    intersection must fit in b); there is NO upper bound on |b| —
    that asymmetry is the point.

    Scale shape: the posting join moves only narrow int rows, the
    per-pair counts are one map-side-combinable hash aggregate of
    those rows, and the candidate set entering the 1 KB/row
    array-verification is ~answer-sized — so the verification
    exchange that forced the r12/r13 PPJoin auto-sharding (the ~1 KB
    per SHARE-ONE-TOKEN candidate working set) no longer exists, and
    this operator runs SINGLE-PASS at every decade. (It must: pmod
    token sharding would split a pair's prefix matches across passes
    and undercount the per-pair match count — counting and token
    sharding are mutually exclusive, which is fine exactly because
    counting removes the footprint sharding was built to bound.) The
    tiny aggregated candidate relation also lets AQE broadcast it
    into both verification joins, so the wide hashed-shingle table is
    never exchanged at all.

    The threshold predicate is pure integer arithmetic on both
    engines; the reported containment is floor-rounded to 6 dp only
    for display."""
    hsh = _hashed_shingles(spark, sf_dir)
    inter = F.expr("size(array_intersect(sa.hs, sb.hs))")
    # ceil(tau*n) = (NUM*n + DEN - 1) DIV DEN in integers.
    ceil_sql = f"(({CONT_TAU_NUM} * n + {CONT_TAU_DEN - 1}) DIV {CONT_TAU_DEN})"
    frames = _cached_postings(
        spark,
        sf_dir,
        f"n - {ceil_sql} + {CONT_PREFIX_K}",
        ("prefix", "full"),
    )
    full = frames["full"].select(
        F.col("doc_id").alias("b_id"),
        F.col("h").alias("bh"),
        F.col("n").alias("bn"),
    )
    cand = (
        frames["prefix"]
        .join(
            full,
            (F.col("h") == F.col("bh"))
            & (F.col("doc_id") != F.col("b_id"))
            # |b| >= tau*|a| or the intersection can't reach tau*|a|
            & (F.col("bn") * CONT_TAU_DEN >= F.col("n") * CONT_TAU_NUM),
        )
        # count matches per pair ("n" is functionally dependent on
        # doc_a — kept in the key so the threshold can read it)
        .groupBy(
            F.col("doc_id").alias("doc_a"), F.col("b_id").alias("doc_b"), "n"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.expr(f"c >= least({CONT_PREFIX_K}, {ceil_sql})"))
        .select("doc_a", "doc_b")
    )
    # no join hints: the aggregated candidate relation is ~answer-sized,
    # so AQE turns both verification joins into broadcasts of it — the
    # wide shingle-array table streams from its persisted blocks with
    # no exchange (vs the old shuffle_hash, which exchanged the corpus'
    # arrays twice to verify a candidate set 400× the answer).
    return (
        cand.join(hsh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(hsh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(inter * CONT_TAU_DEN >= F.expr("size(sa.hs)") * CONT_TAU_NUM)
        .select(
            "doc_a",
            "doc_b",
            floor_round(
                inter.cast("double") / F.expr("CAST(size(sa.hs) AS DOUBLE)"),
                6,
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall audit: does the banded candidate set catch the true pairs?
# ---------------------------------------------------------------------------

_J_HS = "CAST(n_common AS DOUBLE) / (len(sa.hs) + len(sb.hs) - n_common)"


def _lsh_recall_oracle() -> str:
    return f"""
WITH {_minhash_cand_cte()},
hs AS (
  SELECT doc_id, list_distinct(list_transform(sh, s -> {duck_h31('s')})) AS hs
  FROM sh WHERE len(sh) > 0
),
hex AS (SELECT doc_id, unnest(hs) AS hh FROM hs),
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM hex x JOIN hex y ON x.hh = y.hh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
truth AS (
  SELECT doc_a, doc_b, {floor_round_sql(_J_HS, 6)} AS jaccard
  FROM common
  JOIN hs sa ON common.doc_a = sa.doc_id
  JOIN hs sb ON common.doc_b = sb.doc_id
  WHERE {floor_round_sql(_J_HS, 6)} >= {PREFIX_TAU}
),
marked AS (
  SELECT t.doc_a, t.doc_b,
         CAST(floor(t.jaccard * 10) AS BIGINT) AS j_decile,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t LEFT JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT j_decile,
       CAST(count(*) AS BIGINT)   AS n_true,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       CAST(sum(caught) * 10000 // count(*) AS BIGINT) AS recall_bp
FROM marked GROUP BY j_decile
"""


@query("q_lsh_recall", oracle=_lsh_recall_oracle())
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c'''': recall audit of the banded MinHash-LSH candidate
    generator against exact ground truth, per Jaccard decile — the
    q_ann_recall discipline applied to text dedup: before trusting the
    sub-quadratic candidate path at 100 TB, measure what fraction of
    TRUE near-dup pairs (exact Jaccard ≥ {PREFIX_TAU} over the hashed
    shingle universe, from the losslessly prefix-filtered join) the
    8×2 banding actually surfaces, bucketed by floor(10·J). The
    theoretical s-curve (1-(1-s²)^8) predicts ~0.90 at J=0.5 rising to
    1 at J=1; a measured decile falling below it means hot-bucket
    drops or signature skew — the audit turns that from a hope into a
    monitored number.

    Plan: truth is q_dedup_jaccard_prefix's plan reused verbatim (the
    prefix-filtered exact join, sub-quadratic, reading the memoized
    shingle caches); candidates come from minhash_candidates — the
    banded self-join WITHOUT q_dedup_minhash's exact-Jaccard
    verification tail, which the audit would only discard (an inner
    join Catalyst can't prune away); the audit itself is one left join
    on the ordered pair key and a ≤6-row aggregate."""
    truth = q_dedup_jaccard_prefix(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    cand = minhash_candidates(spark, sf_dir).withColumn("caught", F.lit(1))
    marked = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.floor(F.col("jaccard") * 10).cast("long").alias("j_decile"),
        F.coalesce("caught", F.lit(0)).alias("caught"),
    )
    return marked.groupBy("j_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.expr("CAST(sum(caught) * 10000 DIV count(*) AS BIGINT)").alias(
            "recall_bp"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: classify a new batch against the corpus index
# ---------------------------------------------------------------------------


def _minhash_incr_oracle() -> str:
    from kafka_to_parquet_spark.llm.dedup import INCR_MOD, INCR_REM

    return f"""
WITH {_minhash_kept_cte()},
cand AS (
  SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
  FROM kept x JOIN kept y ON x.b = y.b AND x.k = y.k
  WHERE x.doc_id % {INCR_MOD} = {INCR_REM}
    AND y.doc_id % {INCR_MOD} <> {INCR_REM}
)
SELECT batch_doc, corpus_doc,
       {floor_round_sql(_JACCARD_DUCK, 6)} AS jaccard
FROM cand
JOIN sh sa ON cand.batch_doc = sa.doc_id
JOIN sh sb ON cand.corpus_doc = sb.doc_id
"""


@query("q_dedup_minhash_incr", oracle=_minhash_incr_oracle())
def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c''''': incremental NEAR-dup classification — the banded-LSH
    form of q_dedup_incremental's exact-hash delta dedup: a new crawl
    batch (doc_id % {{INCR_MOD}} == {{INCR_REM}}, the
    q_dedup_incremental split) is joined against the ALREADY-INGESTED
    corpus's band index, and each (batch, corpus) candidate sharing a
    band key is verified with exact shingle Jaccard. This is the
    operation a continuously-updated training corpus runs per
    delivery: the corpus side of ``kept_bands`` is the persisted LSH
    index (8 narrow rows per document — at 100 TB, terabytes instead
    of the corpus's hundreds), only the (tiny) batch side is newly
    hashed, and the band join probes batch keys against the index —
    never corpus × corpus, never batch × corpus bodies.

    Both sides derive from the same persisted band table here (one
    fixture), split by the modulo predicate — Catalyst pushes each
    side's filter into its scan of the cached table, so the plan IS
    the index-probe shape. Hot-bucket caps apply before the split,
    mirrored in the oracle."""
    from kafka_to_parquet_spark.llm.dedup import INCR_MOD, INCR_REM

    kept = kept_bands(spark, sf_dir)
    is_batch = F.col("doc_id") % INCR_MOD == INCR_REM
    x = kept.filter(is_batch).alias("x")
    y = kept.filter(~is_batch).alias("y")
    cand = (
        x.join(y, (F.col("x.b") == F.col("y.b")) & (F.col("x.k") == F.col("y.k")))
        .select(
            F.col("x.doc_id").alias("batch_doc"),
            F.col("y.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    sh = shingled_documents(spark, sf_dir).select("doc_id", "sh")
    inter = F.expr("CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE)")
    union = F.expr("size(sa.sh) + size(sb.sh) - size(array_intersect(sa.sh, sb.sh))")
    return (
        cand.join(sh.alias("sa"), F.col("batch_doc") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("corpus_doc") == F.col("sb.doc_id"))
        .select("batch_doc", "corpus_doc", floor_round(inter / union, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash estimator-error audit (signature agreement vs exact Jaccard)
# ---------------------------------------------------------------------------


def _est_err_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(MH_NUM_HASHES)
    )
    return f"""
WITH {_minhash_cand_cte()},
pairs AS (
  SELECT cand.doc_a, cand.doc_b,
         CAST(({agree}) * 10000 // {MH_NUM_HASHES} AS BIGINT) AS est_bp,
         CAST(len(list_intersect(ha.sh, hb.sh)) * 10000
              // (len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh)))
              AS BIGINT) AS exact_bp
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
  JOIN sh ha ON cand.doc_a = ha.doc_id
  JOIN sh hb ON cand.doc_b = hb.doc_id
)
SELECT CAST(exact_bp // 1000 AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_bp - exact_bp)) // count(*) AS BIGINT) AS mean_abs_err_bp,
       CAST(max(abs(est_bp - exact_bp)) AS BIGINT) AS max_abs_err_bp
FROM pairs
GROUP BY exact_bp // 1000
ORDER BY decile
"""


@query("q_minhash_est_err", oracle=_est_err_oracle())
def q_minhash_est_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-error audit: on every banded candidate pair,
    the Jaccard estimate implied by signature agreement (matching
    minima / {MH_NUM_HASHES}, basis points) against the exact shingle
    Jaccard, summarized per exact-Jaccard decile — the third leg of
    the MinHash audit set (q_lsh_recall grades WHICH pairs banding
    surfaces; this grades HOW WELL the signature itself measures
    similarity once a pair is surfaced; E[est] = J with σ = √(J(1−J)/K)
    ≈ 12.5 points at K=16, so mean decile errors in the hundreds of
    basis points are the EXPECTED estimator variance, not a bug —
    which is exactly why a pipeline must verify candidates with exact
    Jaccard before deleting, as q_dedup_minhash does).

    Engine stability: agreement counts, both basis-point ratios, the
    decile bucket, and the mean are pure BIGINT arithmetic over the
    shared deterministic hash family (_mh_coeffs literals in both
    engines); no float exists in the plan.

    Shape: reuses the persisted kept-bands index and the declared
    candidate join (read-only — no certified plan changes); adds two
    signature joins and two shingle joins, all doc-keyed, over the
    candidate set the banding already bounded."""
    cand = minhash_candidates(spark, sf_dir)
    base = shingled_documents(spark, sf_dir)
    ex = base.select("doc_id", F.explode("sh").alias("s"))
    h = ex.select("doc_id", F.expr(_SPARK_H).alias("hm"))
    mins = [
        F.min(F.expr(f"({a} * hm + {b}) % {MH_P}")).alias(f"m{i}")
        for i, (a, b) in enumerate(_mh_coeffs())
    ]
    sig = h.groupBy("doc_id").agg(*mins)
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(MH_NUM_HASHES)
    )
    sh = base.select("doc_id", "sh")
    pairs = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .join(sh.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"))
        .join(sh.alias("hb"), F.col("doc_b") == F.col("hb.doc_id"))
        .select(
            F.expr(
                f"CAST(({agree}) * 10000 DIV {MH_NUM_HASHES} AS BIGINT)"
            ).alias("est_bp"),
            F.expr(
                "CAST(size(array_intersect(ha.sh, hb.sh)) * 10000"
                " DIV (size(ha.sh) + size(hb.sh)"
                " - size(array_intersect(ha.sh, hb.sh))) AS BIGINT)"
            ).alias("exact_bp"),
        )
    )
    return (
        pairs.groupBy(F.expr("CAST(exact_bp DIV 1000 AS BIGINT)").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST(sum(abs(est_bp - exact_bp)) DIV count(*) AS BIGINT)"
            ).alias("mean_abs_err_bp"),
            F.max(F.abs(F.col("est_bp") - F.col("exact_bp"))).cast("long")
            .alias("max_abs_err_bp"),
        )
        .orderBy("decile")
    )
