"""Round-8 session additions, one module across domains. The batch
extends existing families with genuinely new topology rather than
more of the same:

- q_multimodal_probe — the round-7 REAL media decoders (PNG zlib +
                    filter reconstruction, hand-rolled GIF-LZW, PCM
                    WAV, Y4M) executed UNDER THE DRIVER: payloads are
                    constructed in-plan from doc_id (the
                    q_synth_generator discipline), decoded for real in
                    mapInPandas, and checked against a closed-form
                    oracle that recomputes every pixel/sample sum from
                    doc_id without touching a codec.
- q_bpe_learn_k   — full BPE vocabulary induction: k CHAINED merge
                    steps (argmax pair + greedy leftmost re-segmentation
                    per round), the iterative completion of
                    q_bpe_merge_step's single statistics pass.
- q_collocation_llr — Dunning G² log-likelihood collocations over
                    adjacent bigrams — the significance-tested
                    counterpart of q_cooccur_pmi's ratio score.
- q_rocchio_expand — Rocchio pseudo-relevance-feedback query
                    expansion composed on q_bm25's retrieval stage.
- q_winnowing_fingerprint — the MOSS winnowing fingerprint (window
                    min over rolling k-gram hashes) + cross-doc
                    overlap, a position-structured dedup signal the
                    MinHash family doesn't express.
- q_search_proximity — within-k-positions proximity search over the
                    positional postings topology of q_search_phrase.
- q_sssp_weighted — fixed-round Bellman-Ford over weighted trade
                    edges, the weighted twin of q_bfs_levels.
- q_graph_modularity — Newman modularity of the LPA communities
                    (exact integer micro-units), the quality audit of
                    q_graph_label_prop's output.
- q_stl_decompose — additive trend/seasonal/remainder decomposition
                    of the daily revenue series (centered 7-day
                    rolling trend + day-of-week seasonal), composing
                    q_ts_rolling_median's window shape with
                    q_seasonality_dow's weekday cells.
- q_abtest_cuped  — CUPED variance-reduced experiment readout
                    (pre-period covariate adjustment), extending the
                    q_srm_check / q_welch_ttest experimentation suite.
- q_bootstrap_ci  — Poisson-bootstrap confidence interval for the
                    mean order value: THE single-pass distributed
                    bootstrap (Chamandy et al.), deterministic via
                    hash-derived Poisson weights.

A second session batch appends five more, closing loops the first
batch opened:

- q_text_rake     — RAKE keyphrase extraction: stopword-boundary
                    phrase segmentation via a running-count window (a
                    new declarative segmentation topology),
                    degree/frequency word scores, phrase ranking.
- q_bpe_apply     — tokenize WITH q_bpe_learn_k's merges (shared
                    chain) and report per-source compression — the
                    apply side that closes the tokenizer loop.
- q_ts_anomaly_stl — median/MAD flags over q_stl_decompose's
                    remainder (shared decomposition) — anomalies
                    AFTER trend+seasonality are explained away.
- q_graph_clustering_coeff — per-node clustering coefficient by
                    crediting each oriented triangle to its three
                    corners — q_graph_triangles' per-node refinement.
- q_abtest_power  — minimum detectable effect at α=0.05/80% power
                    from exact per-user moments — the sizing step
                    that completes the experimentation lifecycle.

A third session batch appends four (same discipline):

- q_text_textrank — TextRank keywords: the engine's integer PageRank
                    lowered onto a window co-occurrence word graph.
- q_kmv_union_audit — KMV sketch ALGEBRA: pairwise union/intersection
                    estimates from merged K-minimum sets, audited
                    against exact counts.
- q_ts_spectral_dow — single-bin weekly DFT with repr-exact literal
                    twiddles (no libm trig at query time).
- q_kn_continuation — Kneser-Ney continuation counts, the
                    distinct-left-context statistic behind the
                    canonical n-gram LM smoother.
- q_kmeans_silhouette — simplified-silhouette quality audit of the
                    declared k-means assignment (shared scoring
                    stage), the measurement leg the Lloyd family
                    lacked.
- q_split_leakage — verified near-dups straddling the declared hash
                    splitter's train/val/test boundary — the audit
                    that justifies dedup-before-split.

The reference (a straight-line Kafka→parquet ETL, src/main.rs:59-294)
has none of these; they are part of the mandated LLM-pipeline /
analytics extension tier.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo, park
from kafka_to_parquet_spark.functions.hashes import (
    H31_P,
    duck_h31,
    duck_h62,
    spark_h31,
    spark_h62,
)
from kafka_to_parquet_spark.functions.text import (
    _POSTINGS_SQL,
    _TOKENS_SQL,
    token_postings,
    tokens_col,
)
from kafka_to_parquet_spark.llm.corpus_stats import KMV_K as _KMV_K
from kafka_to_parquet_spark.operators.graph import (
    _PAIRS_CTE,
    MIN_SUP,
    ORIENT_CTES,
    TRADE_EDGES_CTES,
    _part_pairs,
    gated_pairs,
    gated_pairs_sql,
    label_propagation,
    lpa_sql,
    orient,
    symmetric,
    trade_edges,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# ---------------------------------------------------------------------------
# Real-decoder probe over in-plan constructed media payloads
# ---------------------------------------------------------------------------

# Oracle mirrors of llm/multimodal.py's synth_media formulas. Every
# branch below is pure integer arithmetic over doc_id, so the oracle
# never decodes anything — agreement with the Spark side (which
# ENCODES then REALLY DECODES) is what certifies the codec path.
_PROBE_W = "(4 + doc_id % 9)"
_PROBE_H = "(3 + doc_id % 7)"
_PROBE_VSUM = (
    "list_sum(list_transform(range(0, {n}), i -> (i * 31 + 7 + doc_id) % 256))"
)
_PROBE_GIF_SUM = (
    "3 * list_sum(list_transform(range(0, {n}),"
    " i -> ((((i * 7 + doc_id) % 8) * 40) + 5) % 256))"
)
_PROBE_WAV_SUM = (
    "list_sum(list_transform(range(0, {n}),"
    " i -> (i * 777 + doc_id * 11) % 65536 - 32768))"
)


@query(
    "q_multimodal_probe",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         ['png', 'ppm', 'bmp', 'gif', 'wav', 'y4m'][CAST(doc_id % 6 AS INTEGER) + 1]
           AS kind,
         {_PROBE_W} AS iw, {_PROBE_H} AS ih,
         16 + doc_id % 33 AS wn,
         2 * (2 + doc_id % 8) AS vw, 2 * (2 + doc_id % 6) AS vh,
         1 + doc_id % 3 AS nf
  FROM documents
)
SELECT doc_id, kind, kind AS probe_kind,
       CAST(CASE kind WHEN 'wav' THEN wn WHEN 'y4m' THEN vw ELSE iw END AS BIGINT)
         AS width,
       CAST(CASE kind WHEN 'wav' THEN 1 WHEN 'y4m' THEN vh ELSE ih END AS BIGINT)
         AS height,
       CAST(CASE WHEN kind = 'y4m' THEN nf ELSE 1 END AS BIGINT) AS n_frames,
       CAST(CASE kind WHEN 'wav' THEN wn WHEN 'y4m' THEN nf * vw * vh
                      ELSE iw * ih * 3 END AS BIGINT) AS n_vals,
       CAST(CASE kind
              WHEN 'gif' THEN {_PROBE_GIF_SUM.format(n='iw * ih')}
              WHEN 'wav' THEN {_PROBE_WAV_SUM.format(n='wn')}
              WHEN 'y4m' THEN {_PROBE_VSUM.format(n='nf * vw * vh')}
              ELSE {_PROBE_VSUM.format(n='iw * ih * 3')}
            END AS BIGINT) AS val_sum
FROM base
ORDER BY doc_id
""",
)
def q_multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path under the driver gate: for every document a
    deterministic media payload is constructed in-plan from doc_id
    (PNG / binary PPM / 24-bit BMP / GIF89a with dictionary LZW /
    16-bit PCM WAV / C420 Y4M — llm/multimodal.py synth_media), then
    kind-routed via probe_media's magic sniffing and decoded by the
    REAL decoders (zlib inflate + PNG filter reconstruction,
    hand-rolled GIF-LZW, RIFF/Y4M parsers). The emitted metadata and
    the exact pixel/sample sum must match a closed-form oracle that
    recomputes everything from doc_id alone — full-pipeline proof that
    encode → magic-probe → decode is lossless, not just pytest-proof
    (the round-7 decoders were test-only; this is their driver row).

    Determinism: payload content is a pure integer function of doc_id;
    the checksum is a SUM of decoded values, so it is invariant to the
    decoder's channel order (BMP BGR→RGB) and row layout; WAV int16
    sums are exact 63-bit integers.

    Scale shape: one mapInPandas over doc ids — encode+decode are
    per-row map work with NO shuffle anywhere (the sort is the
    driver's presentation order); Arrow batches bound executor memory.
    At 100 TB the identical plan decodes a real binary media column —
    synth construction swaps out for the column read, the decode loop
    and schema stay (llm/multimodal.py module docstring)."""
    from kafka_to_parquet_spark.llm import multimodal as mm

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int):
            payload = mm.synth_media(doc_id)
            kind = mm.SYNTH_KINDS[doc_id % 6]
            probe_kind = mm.probe_media(payload)[1]
            if kind in ("png", "ppm", "bmp"):
                arr, w, h, _c = mm.decode_image(payload)
                frames = 1
            elif kind == "gif":
                fr, w, h = mm.decode_gif(payload)
                arr, frames = fr, fr.shape[0]
            elif kind == "wav":
                fr, _rate = mm.decode_audio(payload)
                arr, w, h, frames = fr, fr.shape[0], 1, 1
            else:
                fr, w, h, _fn, _fd = mm.decode_video(payload)
                arr, frames = fr, fr.shape[0]
            return (
                kind, probe_kind, w, h, frames,
                int(arr.size), int(arr.astype(np.int64).sum()),
            )

        for pdf in batches:
            rows = [one(int(d)) for d in pdf["doc_id"]]
            out = pd.DataFrame(
                rows,
                columns=[
                    "kind", "probe_kind", "width", "height",
                    "n_frames", "n_vals", "val_sum",
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return docs.mapInPandas(
        probe,
        schema=(
            "doc_id long, kind string, probe_kind string, width long,"
            " height long, n_frames long, n_vals long, val_sum long"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Proximity search over positional postings
# ---------------------------------------------------------------------------

PROX_TERMS = ("spark", "merge")  # query pair
PROX_K = 5                       # max token distance
PROX_TOP = 20

@query(
    "q_search_proximity",
    oracle=f"""
WITH {_POSTINGS_SQL},
m AS (
  SELECT p1.doc_id,
         abs(p1.pos - p2.pos) AS dist
  FROM post p1 JOIN post p2
    ON p1.doc_id = p2.doc_id
   AND p1.word = '{PROX_TERMS[0]}' AND p2.word = '{PROX_TERMS[1]}'
   AND abs(p1.pos - p2.pos) <= {PROX_K}
)
SELECT doc_id,
       CAST(min(dist) AS BIGINT) AS min_dist,
       CAST(count(*) AS BIGINT) AS n_matches
FROM m GROUP BY doc_id
ORDER BY min_dist, n_matches DESC, doc_id
LIMIT {PROX_TOP}
""",
)
def q_search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search: documents where '{t0}' and '{t1}' co-occur
    within ≤{K} token positions, ranked by closeness then match count
    — the NEAR operator of real search engines, a topology between
    q_search_and's bag-of-words (any distance) and q_search_phrase's
    exact adjacency (distance 1, ordered). Unordered: either term may
    come first.

    Determinism: positions, distances, counts are exact integers;
    ranking carries the full (min_dist, n_matches DESC, doc_id)
    tiebreak.

    Scale shape: the postings explode FILTERS to the two query terms
    BEFORE any join (the q_bm25 pre-shuffle selectivity trick), so the
    doc-keyed band self-join runs over |postings(t0)| × |postings(t1)|
    per doc — the per-doc term frequencies, not document length; the
    distance predicate applies in the join. Final per-doc aggregate is
    map-side combinable; top-{N} is TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    p1 = post.filter(F.col("word") == PROX_TERMS[0]).select("doc_id", "pos")
    p2 = post.filter(F.col("word") == PROX_TERMS[1]).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    m = p1.join(
        p2,
        (F.col("doc_id") == F.col("doc_id2"))
        & (F.abs(F.col("pos") - F.col("pos2")) <= PROX_K),
    ).select("doc_id", F.abs(F.col("pos") - F.col("pos2")).alias("dist"))
    return (
        m.groupBy("doc_id")
        .agg(
            F.min("dist").cast("long").alias("min_dist"),
            F.count("*").cast("long").alias("n_matches"),
        )
        .orderBy("min_dist", F.desc("n_matches"), "doc_id")
        .limit(PROX_TOP)
    )


q_search_proximity.__doc__ = (
    q_search_proximity.__doc__
    .replace("{t0}", PROX_TERMS[0])
    .replace("{t1}", PROX_TERMS[1])
    .replace("{K}", str(PROX_K))
    .replace("{N}", str(PROX_TOP))
)


# ---------------------------------------------------------------------------
# Dunning G² log-likelihood collocations
# ---------------------------------------------------------------------------

LLR_MIN_COUNT = 5  # bigram types scored only past this support — the
#                    q_cooccur_pmi candidate-bounding discipline (the
#                    long tail is noise for a significance test anyway:
#                    G² needs expected counts ≥ ~5 to be meaningful)
LLR_TOP = 25

# Dunning (1993) G² from the 2×2 contingency of an adjacent bigram:
# n11 = c(ab), row margin ra = c(a,*), col margin cb = c(*,b), total N
# bigram instances. G² = 2·Σ O·ln(O/E); zero cells contribute 0.
# ONE mirrored double expression over exact BIGINTs, micro-rounded per
# bigram (the q_cooccur_pmi discipline — no cross-row float sums).
_LLR_CELL = (
    "CASE WHEN ({o}) > 0 THEN ({o}) * ln(CAST(({o}) AS DOUBLE) * nn / "
    "(CAST(({r}) AS DOUBLE) * ({c}))) ELSE 0.0 END"
)
_LLR_MICRO = (
    "CAST(round(2000000 * ("
    + _LLR_CELL.format(o="n11", r="ra", c="cb")
    + " + " + _LLR_CELL.format(o="ra - n11", r="ra", c="nn - cb")
    + " + " + _LLR_CELL.format(o="cb - n11", r="nn - ra", c="cb")
    + " + " + _LLR_CELL.format(o="nn - ra - cb + n11", r="nn - ra", c="nn - cb")
    + ")) AS BIGINT)"
)


@query(
    "q_collocation_llr",
    oracle=f"""
WITH {_POSTINGS_SQL},
bg AS (
  SELECT p1.word AS w1, p2.word AS w2, CAST(count(*) AS BIGINT) AS n11
  FROM post p1 JOIN post p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  GROUP BY p1.word, p2.word
),
marg AS (
  SELECT w1, w2, n11,
         CAST(sum(n11) OVER (PARTITION BY w1) AS BIGINT) AS ra,
         CAST(sum(n11) OVER (PARTITION BY w2) AS BIGINT) AS cb,
         CAST(sum(n11) OVER () AS BIGINT) AS nn
  FROM bg
)
SELECT w1, w2, n11, ra, cb, nn, {_LLR_MICRO} AS llr_micro
FROM marg
WHERE n11 >= {LLR_MIN_COUNT}
ORDER BY llr_micro DESC, w1, w2
LIMIT {LLR_TOP}
""",
)
def q_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by Dunning's G² log-likelihood ratio
    over adjacent bigrams — the statistically-calibrated collocation
    test (robust at low counts where q_cooccur_pmi's raw ratio
    explodes), THE classic phrase-mining score: high G² pairs are the
    multiword units a tokenizer or stop-list must treat atomically.

    Full 2×2 contingency per bigram type: observed n11 plus margins
    c(a,·), c(·,b) and the corpus bigram total; G² = 2·ΣO·ln(O/E)
    evaluated as ONE mirrored double expression over exact BIGINTs,
    micro-rounded per row (no cross-row float aggregation exists).

    Scale shape: the corpus collapses to bigram TYPES first (one
    map-side-combinable groupBy over the adjacency self-join); margins
    are windows over that type table partitioned by w1 / w2 — each a
    vocabulary-keyed exchange of the type table, never the instance
    stream. The support filter (n11 ≥ {M}) bounds the scored set; the
    global-total window is over the already-typed table. Top-{N} is
    TakeOrdered. Note the one intentional full-table window (sum OVER
    ()): it carries ONE scalar over type rows — replaced by a
    broadcast 1-row aggregate on the Spark side so no single-partition
    exchange appears in the plan."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    p1, p2 = post.alias("p1"), post.alias("p2")
    bg = (
        p1.join(
            p2,
            (F.col("p1.doc_id") == F.col("p2.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1),
        )
        .groupBy(F.col("p1.word").alias("w1"), F.col("p2.word").alias("w2"))
        .agg(F.count("*").cast("long").alias("n11"))
    )
    ra = bg.groupBy("w1").agg(F.sum("n11").cast("long").alias("ra"))
    cb = bg.groupBy("w2").agg(F.sum("n11").cast("long").alias("cb"))
    nn = bg.agg(F.sum("n11").cast("long").alias("nn"))
    return (
        bg.filter(F.col("n11") >= LLR_MIN_COUNT)
        .join(ra, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(nn))
        .select("w1", "w2", "n11", "ra", "cb", "nn", F.expr(_LLR_MICRO).alias("llr_micro"))
        .orderBy(F.desc("llr_micro"), "w1", "w2")
        .limit(LLR_TOP)
    )


q_collocation_llr.__doc__ = q_collocation_llr.__doc__.replace(
    "{M}", str(LLR_MIN_COUNT)
).replace("{N}", str(LLR_TOP))


# ---------------------------------------------------------------------------
# MOSS winnowing fingerprints + cross-document overlap
# ---------------------------------------------------------------------------

WIN_K = 3   # k-gram length (tokens per shingle)
WIN_W = 4   # winnow window (positions per window)
WIN_TOP = 20
WIN_MAX_DF = 32  # drop fingerprints shared by more than this many
#                  docs before pairing — Schleimer et al.'s own
#                  "ignore very common fingerprints" step (boilerplate
#                  shares no authorship signal), and the hot-bucket cap
#                  that bounds the pair join: the round-8 bucket audit
#                  measured fingerprint TYPES flat under 10x
#                  replication (18,715 at sf0.1 AND sf≈1) while pair
#                  mass grew 113x (347k -> 39.3M), 96% of it inside
#                  buckets >32 docs. The gate fixtures never reach the
#                  cap (max bucket 24 at sf0.1), so results there are
#                  cap-invariant; at scale the cap turns a quadratic
#                  answer-mass blowup into boilerplate triage.

# Rolling k-gram hash at token position p: h31 of the joined k tokens.
# Window MIN over positions p..p+W-1 selects the fingerprint VALUE —
# selecting values (not positions) makes the fingerprint set identical
# under any tiebreak, so no rightmost-min bookkeeping is needed for
# determinism (Schleimer et al. 2003 §5 select positions only to
# bound density; the distinct VALUE set is what overlap compares).


@query(
    "q_winnowing_fingerprint",
    oracle=f"""
WITH {_POSTINGS_SQL},
kg AS (
  SELECT p1.doc_id, p1.pos,
         {duck_h62("p1.word || ' ' || p2.word || ' ' || p3.word")} AS kh
  FROM post p1
  JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
  JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
),
wm AS (
  SELECT doc_id,
         min(kh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS wn
  FROM kg
),
fps0 AS (SELECT DISTINCT doc_id, fp FROM wm WHERE wn = {WIN_W}),
fps AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS fdf FROM fps0)
  WHERE fdf <= {WIN_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id)
SELECT doc_a, doc_b, shared,
       sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
       CAST(shared * 10000 // (sa.n_fp + sb.n_fp - shared) AS BIGINT) AS sim_bp
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
ORDER BY sim_bp DESC, doc_a, doc_b
LIMIT {WIN_TOP}
""",
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS plagiarism detector): hash every {K}-token k-gram,
    slide a {W}-position window, keep each window's MIN hash; the
    distinct mins are the document's fingerprint set, guaranteed to
    catch any shared run of ≥ {K}+{W}−1 tokens — a POSITION-STRUCTURED
    near-dup signal (contiguous overlap) that the MinHash family
    (bag-of-shingles, order-blind) cannot express. Pairs are ranked by
    fingerprint Jaccard in basis points.

    Determinism: hashes are the package-standard h31 (md5-derived,
    mirrored in DuckDB); window min selects VALUES, so no tiebreak
    ambiguity exists; similarity is integer basis points.

    Scale shape: k-gram hashing is the positional-postings adjacency
    join (doc-keyed, co-partitioned after one exchange); the winnow is
    a doc-partitioned bounded-frame window — thousands of small
    partitions, never global; fingerprints DISTINCT to ≈ n_tokens/{W}
    per doc (the winnow's density guarantee — a 4× reduction before
    any cross-doc work); the pair join is fingerprint-bucketed
    (candidates only where a fingerprint collides — the LSH-band
    shape), never all-pairs. Sizes join is doc-keyed over the reduced
    fingerprint relation."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    p1, p2, p3 = post.alias("p1"), post.alias("p2"), post.alias("p3")
    kg = (
        p1.join(
            p2,
            (F.col("p2.doc_id") == F.col("p1.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1),
        )
        .join(
            p3,
            (F.col("p3.doc_id") == F.col("p1.doc_id"))
            & (F.col("p3.pos") == F.col("p1.pos") + 2),
        )
        .select(
            F.col("p1.doc_id").alias("doc_id"),
            F.col("p1.pos").alias("pos"),
            F.expr(
                spark_h62(
                    "concat(p1.word, ' ', p2.word, ' ', p3.word)"
                )
            ).alias("kh"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WIN_W - 1)
    )
    fps0 = (
        kg.select(
            "doc_id",
            F.min("kh").over(w).alias("fp"),
            F.count("*").over(w).alias("wn"),
        )
        .filter(F.col("wn") == WIN_W)
        .select("doc_id", "fp")
        .distinct()
    )
    # df cap as ONE count-window over fp partitions (thousands of
    # small buckets) — no groupBy+join-back, which would reference
    # fps0 twice and double the winnow lineage (the SSSP
    # lesson); the window's fp-keyed exchange is the same one the
    # pair self-join needs next. Parked: the capped relation is
    # consumed THREE times (sizes + both sides of the pair join).
    fps = park(
        fps0.withColumn("fdf", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("fdf") <= WIN_MAX_DF)
        .select("doc_id", "fp"),
        spark,
        sf_dir,
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_fp"))
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "shared", "n_fp_a", "n_fp_b",
            F.expr(
                "CAST(shared * 10000 DIV (n_fp_a + n_fp_b - shared) AS BIGINT)"
            ).alias("sim_bp"),
        )
        .orderBy(F.desc("sim_bp"), "doc_a", "doc_b")
        .limit(WIN_TOP)
    )


q_winnowing_fingerprint.__doc__ = (
    q_winnowing_fingerprint.__doc__
    .replace("{K}", str(WIN_K))
    .replace("{W}", str(WIN_W))
)


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance-feedback query expansion
# ---------------------------------------------------------------------------

ROCCHIO_REL_K = 10   # pseudo-relevant set: top-k BM25 docs
ROCCHIO_TOP = 15     # expansion terms reported
ROCCHIO_MIN_LEN = 3  # candidate terms must be ≥ this many chars

# Candidate term weight inside the relevant set: tf·idf with
# idf = ln(N/df), per (doc, term), micro-rounded (the q_bm25 fencing),
# then exact-integer summed over the relevant docs. The Rocchio β/|R|
# factor scales every candidate equally and is dropped (rank-invariant).
_ROCCHIO_U = (
    "CAST(floor(CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DOUBLE)"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


def _rocchio_oracle() -> str:
    from kafka_to_parquet_spark.llm.search import (
        _AVGDL_FRAG, _BM25_FRAG, _sql_list, BM25_TERMS,
    )
    from kafka_to_parquet_spark.functions.rounding import int_units

    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents),
dl AS (SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS dl FROM documents),
par AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl),
par2 AS (SELECT n_docs, {_AVGDL_FRAG} AS avgdl FROM par),
qtf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE word IN ({_sql_list(BM25_TERMS)}) GROUP BY doc_id, word),
qdf AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY word),
scored AS (
  SELECT qtf.doc_id, {int_units(_BM25_FRAG, 6)} AS u
  FROM qtf JOIN qdf ON qtf.word = qdf.word
  JOIN dl ON qtf.doc_id = dl.doc_id
  CROSS JOIN par2
),
rel AS (
  SELECT doc_id FROM (
    SELECT doc_id, sum(u) AS s FROM scored GROUP BY doc_id
    ORDER BY s DESC, doc_id LIMIT {ROCCHIO_REL_K})
),
cand AS (
  SELECT t.doc_id, t.word, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN rel ON t.doc_id = rel.doc_id
  WHERE t.word NOT IN ({_sql_list(BM25_TERMS)})
    AND len(t.word) >= {ROCCHIO_MIN_LEN}
  GROUP BY t.doc_id, t.word
),
dfall AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, word FROM toks
        WHERE word IN (SELECT DISTINCT word FROM cand))
  GROUP BY word
)
SELECT cand.word AS term,
       CAST(count(*) AS BIGINT) AS n_rel_docs,
       CAST(max(df) AS BIGINT) AS df,
       CAST(sum({_ROCCHIO_U}) AS BIGINT) AS weight_micro
FROM cand JOIN dfall ON cand.word = dfall.word CROSS JOIN par
GROUP BY cand.word
ORDER BY weight_micro DESC, term
LIMIT {ROCCHIO_TOP}
"""


@query("q_rocchio_expand", oracle=_rocchio_oracle())
def q_rocchio_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance-feedback query expansion (Rocchio
    1971, the classic PRF loop): run the fixed BM25 query, take the
    top-{R} documents as pseudo-relevant, and score every non-query
    term in them by its summed tf·idf weight — the terms a search
    system would ADD to the query on the next pass. Composes q_bm25's
    retrieval stage (identical scoring fragment, so the relevant set
    matches q_bm25's ranking exactly) with a second corpus-vocabulary
    statistics pass.

    Determinism: the relevant set is a (score_units DESC, doc_id)
    TakeOrdered over q_bm25's integer-fenced scores; candidate
    weights are per-(doc, term) micro-rounded doubles (shared mirrored
    fragment) summed as exact integers; final ranking carries the
    (weight DESC, term) tiebreak.

    Scale shape: the relevant set is {R} rows — it BROADCASTS into the
    token stream, so the candidate tf aggregation runs over {R}
    documents' tokens only; document frequencies are computed for
    candidate terms only via a broadcast semi-join on the distinct
    (doc, word) relation (one corpus pass, map-side combinable). No
    stage is corpus-quadratic; the only corpus-sized work is the two
    token scans q_bm25 already pays."""
    from kafka_to_parquet_spark.functions.rounding import int_units
    from kafka_to_parquet_spark.llm.search import _AVGDL_FRAG, _BM25_FRAG, BM25_TERMS

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    dl = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("dl")
    )
    par = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    par2 = par.select("n_docs", F.expr(_AVGDL_FRAG).alias("avgdl"))
    qtf = (
        toks.filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    qdf = qtf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    scored = (
        qtf.join(F.broadcast(qdf), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(par2))
        .select("doc_id", F.expr(int_units(_BM25_FRAG, 6)).alias("u"))
    )
    rel = (
        scored.groupBy("doc_id")
        .agg(F.sum("u").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(ROCCHIO_REL_K)
        .select("doc_id")
    )
    cand = (
        toks.join(F.broadcast(rel), "doc_id")
        .filter(
            (~F.col("word").isin(*BM25_TERMS))
            & (F.length("word") >= ROCCHIO_MIN_LEN)
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    cand_words = cand.select("word").distinct()
    dfall = (
        toks.select("doc_id", "word")
        .join(F.broadcast(cand_words), "word")
        .distinct()
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("df"))
    )
    return (
        cand.join(dfall, "word")
        .crossJoin(F.broadcast(par.select("n_docs")))
        .groupBy(F.col("word").alias("term"))
        .agg(
            F.count("*").cast("long").alias("n_rel_docs"),
            F.max("df").cast("long").alias("df"),
            F.sum(F.expr(_ROCCHIO_U)).cast("long").alias("weight_micro"),
        )
        .orderBy(F.desc("weight_micro"), "term")
        .limit(ROCCHIO_TOP)
    )


q_rocchio_expand.__doc__ = q_rocchio_expand.__doc__.replace("{R}", str(ROCCHIO_REL_K))


# ---------------------------------------------------------------------------
# Weighted shortest paths (fixed-round Bellman-Ford)
# ---------------------------------------------------------------------------

SSSP_ROUNDS = 4  # bounded Bellman-Ford prefix — the q_bfs_levels
#                  discipline (each round relaxes one more hop; the
#                  oracle stays a finite CTE chain; production iterates
#                  the identical round body to fixed point).

# Synthetic integer edge cost from the pair's trade volume: heavier
# relationships are CHEAPER to traverse (w = 1 + 9 // n_txn ∈ [1, 10]),
# the inverse-affinity weighting routing/influence analyses use.
_SSSP_W = "1 + 9 // n_txn"
_SSSP_W_SPARK = "1 + 9 DIV n_txn"


def _sssp_oracle() -> str:
    ctes = [
        TRADE_EDGES_CTES,
        f"""we AS (
  SELECT src, dst, CAST({_SSSP_W} AS BIGINT) AS w FROM e0
  UNION ALL
  SELECT dst, src, CAST({_SSSP_W} AS BIGINT) AS w FROM e0
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM we)",
        "r0 AS (SELECT min(node) AS node, CAST(0 AS BIGINT) AS dist FROM nodes)",
    ]
    for k in range(1, SSSP_ROUNDS + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM r{k - 1}
    UNION ALL
    SELECT e.dst AS node, r.dist + e.w AS dist
    FROM we e JOIN r{k - 1} r ON e.src = r.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM r{SSSP_ROUNDS} GROUP BY dist
UNION ALL
SELECT CAST(-1 AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT node FROM nodes EXCEPT SELECT node FROM r{SSSP_ROUNDS})
ORDER BY dist
"""
    )


@query("q_sssp_weighted", oracle=_sssp_oracle())
def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths over WEIGHTED trade edges —
    {R} rounds of Bellman-Ford relaxation from the minimum node id,
    reported as a distance histogram (dist −1 = not reachable within
    {R} relaxations). The weighted twin of q_bfs_levels: BFS counts
    hops; this accumulates integer edge costs (inverse trade volume:
    frequent partners are cheap to traverse), the actual
    routing/influence-cost primitive.

    Fixed-round and fully declarative: each round unions the carried
    (node, min-dist) relation with the one-hop relaxation edges⋈dists
    and re-minimizes. min-dist is monotone, so re-relaxing settled
    nodes is idempotent — no visited-set to diverge on, exactly the
    Bellman-Ford invariant. Unlike BFS, a node's distance can IMPROVE
    in a later round (a longer-hop cheaper path), which the min over
    the union handles for free.

    Determinism: weights are integer (1 + 9 // n_txn from exact
    counts); distances are exact integer sums; histograms are counts.

    Scale shape per round: one edges⋈dists hash join + a map-side-
    combinable min. The weight is a projection over graph.trade_edges
    (persisted pre-hashed+pre-sorted on src with each pair's n_txn),
    so the edges keep that layout and only the NODE-sized distance
    relation exchanges per round; weighted edges stream through. At
    100 TB this is textbook distributed Bellman-Ford (the Pregel SSSP
    kernel); Dijkstra's priority queue does not distribute."""
    edges = trade_edges(spark, sf_dir).select(
        "src", "dst", F.expr(f"CAST({_SSSP_W_SPARK} AS BIGINT)").alias("w")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # Seed = min node id. min(src) over the RAW symmetric edge relation
    # equals min over distinct nodes (every node appears as a src), so
    # the seed skips the node-dedup exchange entirely — `nodes` (with
    # its distinct) executes only once, for the final unreached
    # anti-join, not twice (round-13 job-structure audit).
    r = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = edges.join(r, edges.src == r.node).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        # each round's distances feed BOTH the next relaxation join
        # and the next union — without the materialization boundary
        # the lineage doubles per round (2^k subtrees, 83 shuffles
        # in the round-8 plan audit).
        r = park(
            r.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist")),
            spark,
            sf_dir,
        )
    reached = r.groupBy("dist").agg(F.count("*").cast("long").alias("n_nodes"))
    unreached = (
        nodes.join(r, "node", "left_anti")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(F.lit(-1).cast("long").alias("dist"), "n_nodes")
    )
    return reached.unionByName(unreached).orderBy("dist")


q_sssp_weighted.__doc__ = q_sssp_weighted.__doc__.replace("{R}", str(SSSP_ROUNDS))


# ---------------------------------------------------------------------------
# Newman modularity of label-propagation communities (co-purchase graph)
# ---------------------------------------------------------------------------

MOD_TOP = 10        # communities reported (by size DESC, community id)
MOD_LPA_ROUNDS = 2  # synchronous LPA rounds (q_graph_label_prop's knob)

# The community graph is the PART CO-PURCHASE projection (operators/
# graph.py's support-filtered pair relation), NOT q_graph_pagerank's
# customer-supplier bipartite graph: LPA on a bipartite graph yields
# single-side communities at every round (labels hop sides each
# sweep), so EVERY community has zero internal edges and modularity is
# identically degenerate. The projection is unipartite with genuine
# dense neighborhoods — the structure modularity exists to measure.

# Per-community modularity term over DIRECTED-symmetric counts
# (M = 2m): contrib_c = e_c/M − (d_c/M)². Evaluated as ONE mirrored
# double expression from exact BIGINTs, floor(+0.5)-rounded to micro
# units — numerators can be negative, so the rounding happens on one
# mirrored floor(+0.5) over the double (bit-identical in both
# engines for this expression) rather than relying on each engine's
# integer-division convention for signed operands.
_MOD_MICRO = (
    "CAST(floor(1000000.0 * (CAST(e_c AS DOUBLE) * m_dir - CAST(d_c AS DOUBLE) * d_c)"
    " / (CAST(m_dir AS DOUBLE) * m_dir) + 0.5) AS BIGINT)"
)


def _modularity_oracle() -> str:
    return f"""WITH {_PAIRS_CTE},
ce AS (SELECT pa, pb FROM pairs WHERE support >= {MIN_SUP}),
edges AS (SELECT pa AS src, pb AS dst FROM ce UNION ALL SELECT pb AS src, pa AS dst FROM ce),
{lpa_sql(MOD_LPA_ROUNDS)},
lab AS (SELECT node, lab FROM l{MOD_LPA_ROUNDS}),
m AS (SELECT CAST(count(*) AS BIGINT) AS m_dir FROM edges),
within AS (
  SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS e_c
  FROM edges e
  JOIN lab la ON e.src = la.node
  JOIN lab lb ON e.dst = lb.node AND la.lab = lb.lab
  GROUP BY la.lab
),
degsum AS (
  SELECT la.lab AS community,
         CAST(count(*) AS BIGINT) AS d_c,
         CAST(count(DISTINCT e.src) AS BIGINT) AS n_nodes
  FROM edges e JOIN lab la ON e.src = la.node
  GROUP BY la.lab
)
SELECT d.community, d.n_nodes, d.d_c,
       CAST(coalesce(w.e_c, 0) AS BIGINT) AS e_c,
       {_MOD_MICRO.replace("e_c", "coalesce(w.e_c, 0)").replace("d_c", "d.d_c")}
         AS contrib_micro
FROM degsum d LEFT JOIN within w ON d.community = w.community
CROSS JOIN m
ORDER BY d.n_nodes DESC, d.community
LIMIT {MOD_TOP}
"""


@query("q_graph_modularity", oracle=_modularity_oracle())
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of label-propagation communities on the
    part co-purchase projection — the standard "are these communities
    denser than chance" score (Newman & Girvan 2004): per community c,
    contrib = e_c/M − (d_c/M)² over the directed-symmetric edge count
    M, internal edge count e_c, and degree mass d_c. Reports the
    top-{N} communities by size with their exact integer ingredients
    and micro-rounded contribution — the quality gate a pipeline runs
    before TRUSTING a community structure (LPA can collapse to one
    giant label; a near-zero contribution exposes it).

    Runs q_graph_label_prop's exact LPA round body (same tiebreak,
    same fixed-round discipline) on q_copurchase_pairs' support-
    filtered projection — see the module-level comment for why the
    bipartite trade graph is the WRONG substrate for this audit — and
    then measures the result with a second exact computation (the
    q_lsh_recall audit discipline).

    Determinism: e_c, d_c, M, sizes are exact BIGINTs; the only double
    is the ONE mirrored contribution expression per community (floor
    +0.5 on the double — one mirrored expression, so signed values
    round identically).

    Scale shape: the projection is order-keyed with bounded per-order
    fan-out (operators/graph.py:_part_pairs); edges persist pre-hashed
    on src ONCE and every LPA round exchanges only the node-sized
    label relation; the within-community count is two hash joins of
    edges against node-sized labels; degree mass is map-side
    combinable. Nothing is community-quadratic."""
    def _build() -> DataFrame:
        ce = _part_pairs(spark, sf_dir).filter(F.col("support") >= MIN_SUP)
        return symmetric(ce.select(F.col("pa").alias("src"), F.col("pb").alias("dst")))

    edges = memo(spark, sf_dir, "copurchase_sym", lambda: _build().persist())
    # the final labels feed BOTH audit joins (within + degsum)
    labels = park(label_propagation(edges, MOD_LPA_ROUNDS), spark, sf_dir)
    m = edges.agg(F.count("*").cast("long").alias("m_dir"))
    la = labels.select(F.col("node").alias("src"), F.col("lab").alias("community"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lab").alias("lab_b"))
    within = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("community") == F.col("lab_b"))
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    degsum = (
        edges.join(la, "src")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("d_c"),
            F.countDistinct("src").cast("long").alias("n_nodes"),
        )
    )
    return (
        degsum.join(within, "community", "left")
        .crossJoin(F.broadcast(m))
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)).cast("long"))
        .select(
            "community",
            "n_nodes",
            "d_c",
            "e_c",
            F.expr(_MOD_MICRO).alias("contrib_micro"),
        )
        .orderBy(F.desc("n_nodes"), "community")
        .limit(MOD_TOP)
    )


q_graph_modularity.__doc__ = q_graph_modularity.__doc__.replace("{N}", str(MOD_TOP))


# ---------------------------------------------------------------------------
# STL-style additive decomposition of the daily revenue series
# ---------------------------------------------------------------------------

STL_TREND_HALF = 3  # centered rolling-trend half-width: window = 7 days

# Shared CTE: per-(event_type, day) revenue in exact integer cents —
# operators/timeseries.py's _DUCK_DAILY_CENTS shape (value is 2dp, so
# round(·100) is exact; sums of BIGINTs are exact in both engines).
_STL_DAILY = """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)"""


_STL_CTES = f"""{_STL_DAILY},
tr AS (
  SELECT event_type, d, yc,
         CAST(sum(yc) OVER w AS BIGINT) AS s7,
         CAST(count(*) OVER w AS BIGINT) AS n7,
         CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) % 7 AS dow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN {STL_TREND_HALF} PRECEDING AND {STL_TREND_HALF} FOLLOWING)
),
dt AS (
  SELECT event_type, d, dow, yc,
         CAST(1000 * s7 // 7 AS BIGINT) AS trend_milli,
         CAST(1000 * yc - 1000 * s7 // 7 AS BIGINT) AS detr_milli
  FROM tr WHERE n7 = {2 * STL_TREND_HALF + 1}
),
seas AS (
  SELECT event_type, dow,
         CAST(sum(detr_milli) // count(*) AS BIGINT) AS seas_milli
  FROM dt GROUP BY event_type, dow
),
decomp AS (
  SELECT dt.event_type, dt.d AS day, dt.yc AS y_cents,
         dt.trend_milli, seas.seas_milli,
         CAST(dt.detr_milli - seas.seas_milli AS BIGINT) AS resid_milli
  FROM dt JOIN seas ON dt.event_type = seas.event_type AND dt.dow = seas.dow
)"""


@query(
    "q_stl_decompose",
    oracle=f"""
WITH {_STL_CTES}
SELECT event_type, day, y_cents, trend_milli, seas_milli, resid_milli
FROM decomp
ORDER BY event_type, day
""",
)
def _stl_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the _STL_CTES ``decomp`` relation — shared by
    q_stl_decompose (the decomposition itself) and q_ts_anomaly_stl
    (the residual flagging pass)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("yc")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-STL_TREND_HALF, STL_TREND_HALF)
    )
    tr = daily.select(
        "event_type",
        "d",
        "yc",
        F.sum("yc").over(w).cast("long").alias("s7"),
        F.count("*").over(w).cast("long").alias("n7"),
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("long") % 7
        ).alias("dow"),
    )
    dt = tr.filter(F.col("n7") == 2 * STL_TREND_HALF + 1).select(
        "event_type",
        "d",
        "dow",
        "yc",
        F.expr("CAST(1000 * s7 DIV 7 AS BIGINT)").alias("trend_milli"),
        F.expr("CAST(1000 * yc - 1000 * s7 DIV 7 AS BIGINT)").alias("detr_milli"),
    )
    seas = dt.groupBy("event_type", "dow").agg(
        F.expr("CAST(sum(detr_milli) DIV count(*) AS BIGINT)").alias("seas_milli")
    )
    return dt.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        F.col("d").alias("day"),
        F.col("yc").alias("y_cents"),
        "trend_milli",
        "seas_milli",
        (F.col("detr_milli") - F.col("seas_milli")).cast("long").alias("resid_milli"),
    )


def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of each event type's daily
    revenue series: trend = centered {W}-day rolling mean, seasonal =
    per-weekday mean of the detrended series, remainder = series −
    trend − seasonal — the decomposition behind anomaly detection and
    forecasting baselines ("is Monday's dip seasonality or a real
    drop?"). Classic STL iterates loess passes; this is the one-pass
    moving-average variant (the `decompose()` of R), whose algebra is
    exactly expressible in windows + groupBy and therefore
    oracle-checkable — per-series loess belongs to an applyInPandas
    twin if ever needed.

    All-integer: day revenue is exact cents; trend in milli-cents is
    1000·Σ₇/7 by integer floor-division of non-negative sums; the
    weekday seasonal is an integer floor-mean of detrended milli
    values (Spark DIV and DuckDB // both truncate toward zero, so
    the quotient matches even when a detrended sum is negative);
    remainder is a difference of integers. Edge days without a full {W}-day window are excluded
    (n7 = {W} — the standard moving-average NA edge). Weekday is epoch
    day mod 7 (q_seasonality_dow's locale-immune convention).

    Scale shape: the fact collapses map-side to |types|·|days| cells;
    the trend is a bounded-frame window over per-type partitions
    (thousands of small partitions, never global); the seasonal is a
    ≤|types|·7-cell aggregate joined back BROADCAST. Nothing after the
    first aggregate is data-sized. 100 TB honesty: rows-between frames
    assume gapless days per type — a sparse series composes
    q_ts_gapfill first (documented, same assumption as
    q_ts_rolling_median)."""
    return _stl_decomposition(spark, sf_dir).orderBy("event_type", "day")


q_stl_decompose.__doc__ = q_stl_decompose.__doc__.replace(
    "{W}", str(2 * STL_TREND_HALF + 1)
)


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

# Deterministic experiment scaffold on the events fixture: the
# pre/post boundary is the MIDPOINT DAY of the observed time range
# (integer day arithmetic, engine-identical), the variant is
# h31(user_id) % 2 (the q_split_assign hash-assignment discipline),
# x = a user's pre-period revenue cents, y = post-period cents.
# θ = cov(x, y)/var(x) is pooled over both variants (standard CUPED:
# the covariate is pre-experiment, so pooling cannot leak treatment).
_CUPED_THETA = (
    "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
)
# Per-variant adjusted mean:  ȳ_v − θ·(x̄_v − x̄)   (all cents doubles
# from exact BIGINT sums; ONE mirrored expression per variant row).
_CUPED_ADJ = (
    f"(CAST(sy_v AS DOUBLE) / n_v - {_CUPED_THETA}"
    " * (CAST(sx_v AS DOUBLE) / n_v - CAST(sx AS DOUBLE) / n))"
)
_CUPED_MICRO = "CAST(floor(CAST(({x}) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"


@query(
    "q_abtest_cuped",
    oracle=f"""
WITH cents AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
split AS (
  SELECT min(d) + CAST(datediff('day', min(d), max(d)) // 2 AS INTEGER) AS sd
  FROM cents
),
pu AS (
  SELECT user_id,
         CAST({duck_h31("CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS variant,
         CAST(sum(CASE WHEN d < sd THEN c ELSE 0 END) AS BIGINT) AS ux,
         CAST(sum(CASE WHEN d >= sd THEN c ELSE 0 END) AS BIGINT) AS uy
  FROM cents CROSS JOIN split
  GROUP BY user_id, sd
),
pool AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ux) AS BIGINT) AS sx, CAST(sum(uy) AS BIGINT) AS sy,
         CAST(sum(ux * uy) AS BIGINT) AS sxy,
         CAST(sum(ux * ux) AS BIGINT) AS sxx
  FROM pu
),
byv AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_v,
         CAST(sum(ux) AS BIGINT) AS sx_v,
         CAST(sum(uy) AS BIGINT) AS sy_v
  FROM pu GROUP BY variant
)
SELECT variant, n_v, sx_v, sy_v,
       {_CUPED_MICRO.format(x=_CUPED_THETA)} AS theta_micro,
       {_CUPED_MICRO.format(x="CAST(sy_v AS DOUBLE) / n_v")} AS mean_y_micro,
       {_CUPED_MICRO.format(x=_CUPED_ADJ)} AS cuped_mean_micro
FROM byv CROSS JOIN pool
ORDER BY variant
""",
)
def q_abtest_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi, Walker
    2013 — the industry-standard experiment shrinkage): per user the
    PRE-period revenue x (covariate) and POST-period revenue y
    (metric), pooled θ = cov(x,y)/var(x), and per variant the adjusted
    mean ȳ_v − θ·(x̄_v − x̄) — the estimator that removes the
    between-user variance x explains, typically halving experiment
    runtimes. Completes the experimentation suite: q_srm_check gates
    the assignment, q_welch_ttest tests raw means, this is the
    production readout those feed.

    Deterministic scaffold (fixture has no real experiment): midpoint-
    day split, h31(user_id) % 2 variants — every piece mirrored
    integer arithmetic. Sums n, Σx, Σy, Σxy, Σx² are exact BIGINTs
    (cents); θ and the adjusted means are ONE mirrored double
    expression per output row, micro-rounded (the q_cooccur_pmi
    fencing — no cross-row float aggregation).

    Scale shape: one fact pass collapses map-side to per-user (x, y)
    rows keyed by user (the only data-sized exchange); the pooled
    moments are a 1-row aggregate and the per-variant sums a 2-row
    aggregate over the user relation; the final join is a broadcast
    cross of two tiny relations. At 100 TB: identical — moments
    compose, nothing is user-quadratic. Σx² with cents at 1e9 users
    needs decimal widening (documented; the constants rescale)."""
    ev = load(spark, sf_dir, "events")
    cents = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    split = cents.agg(
        F.expr(
            "CAST(date_add(min(d), CAST(datediff(max(d), min(d)) DIV 2 AS INT))"
            " AS DATE) AS sd"
        )
    )
    pu = (
        cents.crossJoin(F.broadcast(split))
        .groupBy("user_id", "sd")
        .agg(
            F.sum(F.when(F.col("d") < F.col("sd"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("ux"),
            F.sum(F.when(F.col("d") >= F.col("sd"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("uy"),
        )
        .select(
            F.expr(
                f"CAST({spark_h31('CAST(user_id AS STRING)')} % 2 AS BIGINT)"
            ).alias("variant"),
            "ux",
            "uy",
        )
    )
    pool = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ux").cast("long").alias("sx"),
        F.sum("uy").cast("long").alias("sy"),
        F.sum(F.col("ux") * F.col("uy")).cast("long").alias("sxy"),
        F.sum(F.col("ux") * F.col("ux")).cast("long").alias("sxx"),
    )
    byv = pu.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_v"),
        F.sum("ux").cast("long").alias("sx_v"),
        F.sum("uy").cast("long").alias("sy_v"),
    )
    return (
        byv.crossJoin(F.broadcast(pool))
        .select(
            "variant",
            "n_v",
            "sx_v",
            "sy_v",
            F.expr(_CUPED_MICRO.format(x=_CUPED_THETA)).alias("theta_micro"),
            F.expr(
                _CUPED_MICRO.format(x="CAST(sy_v AS DOUBLE) / n_v")
            ).alias("mean_y_micro"),
            F.expr(_CUPED_MICRO.format(x=_CUPED_ADJ)).alias("cuped_mean_micro"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for the mean order value
# ---------------------------------------------------------------------------

BOOT_B = 40  # resamples: enough for 2.5/97.5 disc quantiles to be
#              interior order statistics, small enough that the
#              B-fold fact expansion stays cheap at bench scale

# Poisson(1) inverse CDF on a 1/10000 uniform grid: cumulative pmf
# ×10000, floored — a hash-uniform u ∈ [0, 10000) maps to the weight
# w = #resample copies of the row. Thresholds are exact integers, so
# both engines branch identically (no float CDF at query time).
_POIS_CUM = (3679, 7358, 9197, 9810, 9963, 9994, 9999)
_POIS_W = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {i}" for i, t in enumerate(_POIS_CUM)
    )
    + " ELSE 7 END"
)


@query(
    "q_bootstrap_ci",
    oracle=f"""
WITH oc AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
oh AS (
  SELECT c, CAST({duck_h31("CAST(o_orderkey AS VARCHAR)")} AS BIGINT) AS h
  FROM oc
),
expanded AS (
  SELECT b, c,
         ((h + b * 2654435761) % {H31_P}) * 48271 % {H31_P} % 10000 AS u
  FROM oh CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b)
),
stats AS (
  SELECT b,
         CAST(sum(({_POIS_W}) * c) // sum({_POIS_W}) AS BIGINT) AS mean_c,
         CAST(sum({_POIS_W}) AS BIGINT) AS n_eff
  FROM (SELECT b, c, u FROM expanded)
  GROUP BY b
),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(c) // count(*) AS BIGINT) AS point_mean_c
  FROM oc
)
SELECT CAST({BOOT_B} AS BIGINT) AS b_resamples,
       n_orders, point_mean_c,
       CAST(quantile_disc(mean_c, 0.05) AS BIGINT) AS ci_lo_cents,
       CAST(quantile_disc(mean_c, 0.95) AS BIGINT) AS ci_hi_cents,
       CAST(min(mean_c) AS BIGINT) AS boot_min_cents,
       CAST(max(mean_c) AS BIGINT) AS boot_max_cents
FROM stats CROSS JOIN point
GROUP BY n_orders, point_mean_c
""",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for the mean order
    value — the SINGLE-PASS distributed bootstrap (Chamandy et al.
    2012, "Estimating Uncertainty for Massive Data Streams", the
    Google recipe): instead of resampling n rows B times (impossible
    at scale — that is B full shuffles of the fact), each row draws an
    independent Poisson(1) replication weight per resample, which at
    large n is indistinguishable from multinomial resampling. One scan
    computes all B resample means; order statistics over the B-row
    stats relation give the CI.

    Deterministic by construction: each row hashes ONCE (h31 of the
    order key — md5 is the expensive op, so it must not run per
    (row, resample): doing so cost 4× the whole plan, measured) and
    the {B} per-resample uniforms derive from h by a mirrored modular
    mix (add a per-b odd constant, then one MINSTD multiplicative
    step mod 2³¹−1 — Fibonacci-hash + Lehmer scrambling, all operands
    < 2⁶³ so both engines evaluate exactly); the Poisson draw is the
    inverse CDF on exact integer thresholds (the q_stratified_sample
    discipline), so both engines replicate identically. Streams are
    independent ACROSS rows (fresh md5 per key) — the property Poisson
    bootstrap needs; the b-streams of one row share a seed, which
    perturbs only the between-resample correlation the CI already
    tolerates (Chamandy et al. use exactly this keyed-PRNG form). Resample means are floor
    divisions of exact non-negative cent sums; CI bounds are disc
    quantiles (order statistics — the q_rfm_segments
    percentile_disc/quantile_disc rule). The interval is 90% (5/95
    cuts): with B = {B} resamples those are INTERIOR order statistics
    (ranks 2 and 38), where a 2.5/97.5 cut would degenerate to the
    sample min/max — a wider B buys narrower cuts, not a code change.

    Scale shape: the B-fold expansion happens INSIDE the scan task
    (explode over a {B}-element literal sequence — no join, no
    shuffle) and collapses map-side to ≤{B} partial rows per task; the
    only exchange carries |tasks|·{B} partials. The stats relation is
    {B} rows; quantiles over it are trivial. At 100 TB this is one
    fact pass — the entire point of the Poisson form."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    oh = o.select(
        "c",
        F.expr("CAST(" + spark_h31("CAST(o_orderkey AS STRING)") + " AS BIGINT)").alias("h"),
    )
    expanded = oh.select(
        "c",
        "h",
        F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
    ).select(
        "b",
        "c",
        F.expr(
            f"((h + b * 2654435761) % {H31_P}) * 48271 % {H31_P} % 10000"
        ).alias("u"),
    )
    stats = expanded.groupBy("b").agg(
        F.expr(
            f"CAST(sum(({_POIS_W}) * c) DIV sum({_POIS_W}) AS BIGINT)"
        ).alias("mean_c"),
        F.expr(f"CAST(sum({_POIS_W}) AS BIGINT)").alias("n_eff"),
    )
    point = o.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("CAST(sum(c) DIV count(*) AS BIGINT)").alias("point_mean_c"),
    )
    return (
        stats.crossJoin(F.broadcast(point))
        .groupBy("n_orders", "point_mean_c")
        .agg(
            F.expr(
                "CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_c)"
                " AS BIGINT)"
            ).alias("ci_lo_cents"),
            F.expr(
                "CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_c)"
                " AS BIGINT)"
            ).alias("ci_hi_cents"),
            F.min("mean_c").cast("long").alias("boot_min_cents"),
            F.max("mean_c").cast("long").alias("boot_max_cents"),
        )
        .select(
            F.lit(BOOT_B).cast("long").alias("b_resamples"),
            "n_orders",
            F.col("point_mean_c"),
            "ci_lo_cents",
            "ci_hi_cents",
            "boot_min_cents",
            "boot_max_cents",
        )
    )


q_bootstrap_ci.__doc__ = q_bootstrap_ci.__doc__.replace("{B}", str(BOOT_B))


# ---------------------------------------------------------------------------
# BPE vocabulary induction: k chained merge steps
# ---------------------------------------------------------------------------

BPE_LEARN_K = 5  # chained merges — the q_kmeans3 bounded-iteration
#                  discipline (q_bpe_merge_step is ONE statistics pass;
#                  this carries the learned merge forward k times, the
#                  actual Sennrich training loop).

# Symbol sequences ride as SENTINEL-FRAMED STRINGS: every symbol is
# wrapped chr(31)·sym·chr(31), so "ab" segmented [a, b] is ␟a␟␟b␟.
# Merging pair (a, b) is then ONE string replace of ␟a␟␟b␟ with
# ␟ab␟ — and because each match consumes its own frame bytes (nothing
# shared with an adjacent match), left-to-right non-overlapping
# replace() — identical semantics in Spark and DuckDB — implements
# EXACTLY BPE's greedy leftmost merge scan: [a,a,a,a] → [aa,aa], and
# [a,a,a] → [aa,a], never [a,aa]. chr(31) (ASCII unit separator)
# cannot appear in tokens (verified: 0 documents contain it; tokens
# are whitespace-split so no whitespace either).


def _bpe_ctes() -> list[str]:
    us = "chr(31)"
    ctes = [
        f"""btf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wf
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
)""",
        f"""v0 AS (
  SELECT word, regexp_replace(word, '(.)', {us} || '\\1' || {us}, 'g') AS s, wf
  FROM btf
)""",
    ]
    for r in range(1, BPE_LEARN_K + 1):
        ctes.append(f"""p{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(wf) AS BIGINT) AS cnt
  FROM (
    SELECT syms, wf, unnest(range(1, len(syms))) AS i
    FROM (SELECT string_split(trim(s, {us}), {us} || {us}) AS syms, wf
          FROM v{r - 1})
    WHERE len(syms) >= 2
  )
  GROUP BY 1, 2
)""")
        ctes.append(
            f"m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(f"""v{r} AS (
  SELECT word, replace(s, {us} || a || {us} || {us} || b || {us},
                 {us} || a || b || {us}) AS s, wf
  FROM v{r - 1} CROSS JOIN m{r}
)""")
    return ctes


def _bpe_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS step, a, b, cnt FROM m{r}"
        for r in range(1, BPE_LEARN_K + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes()) + f"\n{union}\nORDER BY step\n"


@query("q_bpe_learn_k", oracle=_bpe_oracle())
def q_bpe_learn_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE vocabulary induction, {K} chained merge steps
    (Sennrich et al. 2016 — the training loop behind GPT/Llama
    tokenizers): each round counts adjacent symbol pairs weighted by
    word frequency, merges the (count DESC, pair-lexicographic) argmax
    EVERYWHERE via greedy leftmost re-segmentation, and repeats on the
    merged vocabulary. Emits the learned merge table (step, a, b,
    count) — q_bpe_merge_step is round 1 of this by construction.

    The re-segmentation trick that keeps every round declarative:
    symbol sequences travel as sentinel-framed strings (see module
    comment above _bpe_ctes) so applying a merge is ONE broadcast
    scalar join + ONE replace() — no UDF, no driver-side tokenizer
    state; replace's left-to-right non-overlap scan IS BPE's greedy
    merge order, bit-identically in both engines.

    Determinism: pair counts are exact BIGINT sums; each round's merge
    is a total-order argmax; strings never meet a float.

    Scale shape: the corpus collapses ONCE to its word-frequency table
    (pair statistics are per word TYPE weighted by wf — the
    q_bpe_merge_step observation), so all {K} rounds iterate over the
    VOCABULARY, orders of magnitude smaller than the corpus. Per
    round: split+explode over vocab rows (map-side, ≈ Σ|word| pair
    rows), one map-side-combinable (a, b) aggregate, a 1-row
    TakeOrdered argmax broadcast back into a vocab-sized map. Rounds
    park their vocab (each is referenced by BOTH the next round's
    statistics and its re-segmentation — without the boundary the
    lineage re-derives the corpus collapse 2^{K} times)."""
    v, merges = _bpe_chain(spark, sf_dir)
    out = None
    for r, m in enumerate(merges, start=1):
        step = m.select(F.lit(r).cast("long").alias("step"), "a", "b", "cnt")
        out = step if out is None else out.unionByName(step)
    return out.orderBy("step")


def _bpe_chain(spark: SparkSession, sf_dir: str):
    """The shared BPE merge chain (Spark twin of _bpe_ctes): returns
    (final per-word segmentation with word/s/wf, list of 1-row merge
    frames) — consumed by q_bpe_learn_k (the merge table) and
    q_bpe_apply (the merged segmentation joined back per source)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wf"))
    )
    # The per-round segmentation is vocabulary-sized; every round is
    # parked. The 1-row `best` frames below are parked too: each feeds
    # its round's rewrite and the final merge table.
    v = park(
        tf.select(
            "word", F.regexp_replace("word", "(.)", "\x1f$1\x1f").alias("s"), "wf"
        ),
        spark,
        sf_dir,
    )
    pair_expr = (
        "transform(sequence(1, size(syms) - 1),"
        " i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"
    )
    merges = []
    for _ in range(BPE_LEARN_K):
        syms = v.select(
            F.split(F.expr("trim(BOTH '\x1f' FROM s)"), "\x1f\x1f").alias("syms"),
            "wf",
        ).filter(F.size("syms") >= 2)
        pairs = syms.select("wf", F.explode(F.expr(pair_expr)).alias("p")).select(
            F.col("p.a").alias("a"), F.col("p.b").alias("b"), "wf"
        )
        best = park(
            pairs.groupBy("a", "b")
            .agg(F.sum("wf").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1),
            spark,
            sf_dir,
        )
        merges.append(best)
        v = park(
            v.crossJoin(F.broadcast(best))
            .select(
                "word",
                F.expr(
                    "replace(s, concat('\x1f', a, '\x1f\x1f', b, '\x1f'),"
                    " concat('\x1f', a, b, '\x1f'))"
                ).alias("s"),
                "wf",
            ),
            spark,
            sf_dir,
        )
    return v, merges


q_bpe_learn_k.__doc__ = q_bpe_learn_k.__doc__.replace("{K}", str(BPE_LEARN_K))


# ===========================================================================
# Second session batch — five more, closing loops the first batch opened
# (learn→apply for BPE, decompose→flag for STL, triangles→per-node for
# graphs, srm/ttest→power for experiments) plus RAKE keyphrases.
# ===========================================================================


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

RAKE_STOP_K = 20   # stoplist = top-k words by document frequency
#                    (deterministic df DESC, word tiebreak — a fixture
#                    has no curated stoplist, and corpus-df IS how
#                    stoplists are bootstrapped for new languages)
RAKE_MAX_LEN = 4   # RAKE's standard phrase-length cap
RAKE_TOP = 15


@query(
    "q_text_rake",
    oracle=f"""
WITH {_POSTINGS_SQL},
df AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
  FROM post GROUP BY word
),
stop AS (SELECT word FROM df ORDER BY dfreq DESC, word LIMIT {RAKE_STOP_K}),
seg AS (
  SELECT doc_id, pos, word,
         CAST(sum(CASE WHEN word IN (SELECT word FROM stop) THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS grp,
         word IN (SELECT word FROM stop) AS is_stop
  FROM post
),
phr AS (
  SELECT doc_id, grp,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM seg WHERE NOT is_stop
  GROUP BY doc_id, grp
  HAVING count(*) <= {RAKE_MAX_LEN}
),
pw AS (
  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS word FROM phr
),
ws AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS degree,
         CAST(1000 * sum(plen) // count(*) AS BIGINT) AS score_milli
  FROM pw GROUP BY word
),
pocc AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(max(plen) AS BIGINT) AS n_words
  FROM phr GROUP BY phrase
),
ptype AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS word
  FROM (SELECT DISTINCT phrase FROM phr)
),
pscore AS (
  SELECT ptype.phrase, CAST(sum(ws.score_milli) AS BIGINT) AS phrase_score_milli
  FROM ptype JOIN ws ON ptype.word = ws.word
  GROUP BY ptype.phrase
)
SELECT pocc.phrase, n_occurrences, n_words, phrase_score_milli
FROM pocc JOIN pscore ON pocc.phrase = pscore.phrase
ORDER BY phrase_score_milli DESC, pocc.phrase
LIMIT {RAKE_TOP}
""",
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010 — Rapid Automatic
    Keyword Extraction, the classic unsupervised keyphrase baseline):
    split token streams into candidate phrases at stopword boundaries
    (stoplist = the corpus's top-{S} words by document frequency, the
    standard df bootstrap), score each word by co-occurrence degree /
    frequency within candidate phrases, and rank phrases by their
    members' summed scores. The curation op behind topic labeling and
    index-term suggestion — and a genuinely NEW dataflow topology for
    the engine: segmentation by RUNNING STOPWORD COUNT (a prefix-sum
    window turns "split at delimiters" into a group-by key, fully
    declarative — no UDF tokenizer state).

    Determinism: the stoplist is a (df DESC, word) total order; phrase
    assembly is an ORDER BY pos string_agg (mirrored by a sorted
    collect_list transform); degree/freq are exact integers counted
    at the INSTANCE level (RAKE's statistics see every occurrence),
    the word score an integer floor division, and the phrase score an
    exact BIGINT sum of member-word milli-scores over the DISTINCT
    phrase type — no float exists anywhere.

    Scale shape: segmentation is a doc-partitioned running-sum window
    over the postings (thousands of small partitions); phrases
    aggregate on (doc, grp) — map-side combinable; word scores are a
    vocabulary-sized aggregate; the phrase scoring join runs phrase
    words × the broadcast-able word-score table. Nothing is
    corpus-quadratic; the stoplist subquery is a {S}-row broadcast."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    df = post.groupBy("word").agg(
        F.countDistinct("doc_id").cast("long").alias("dfreq")
    )
    stop = df.orderBy(F.desc("dfreq"), "word").limit(RAKE_STOP_K).select("word")
    seg = post.join(
        F.broadcast(stop.withColumn("is_stop", F.lit(True))), "word", "left"
    ).select(
        "doc_id",
        "pos",
        "word",
        F.coalesce(F.col("is_stop"), F.lit(False)).alias("is_stop"),
    )
    wgrp = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = seg.withColumn(
        "grp", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wgrp)
    )
    phr = (
        seg.filter(~F.col("is_stop"))
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, word))),"
                " x -> x.word), ' ')"
            ).alias("phrase"),
            F.count("*").cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_LEN)
    )
    # phr is parked: it feeds the word-score aggregate (instance
    # level — RAKE's freq/degree count every occurrence), the phrase
    # occurrence counts, AND the distinct phrase-type scoring — three
    # consumers of one segmentation pass (the winnowing lesson).
    phr = park(phr, spark, sf_dir)
    pw = phr.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    ws = pw.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
        F.expr("CAST(1000 * sum(plen) DIV count(*) AS BIGINT)").alias(
            "score_milli"
        ),
    )
    pocc = phr.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.max("plen").cast("long").alias("n_words"),
    )
    ptype = (
        phr.select("phrase")
        .distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("word"))
    )
    pscore = (
        ptype.join(F.broadcast(ws.select("word", "score_milli")), "word")
        .groupBy("phrase")
        .agg(F.sum("score_milli").cast("long").alias("phrase_score_milli"))
    )
    return (
        pocc.join(pscore, "phrase")
        .select("phrase", "n_occurrences", "n_words", "phrase_score_milli")
        .orderBy(F.desc("phrase_score_milli"), "phrase")
        .limit(RAKE_TOP)
    )


q_text_rake.__doc__ = q_text_rake.__doc__.replace("{S}", str(RAKE_STOP_K))


# ---------------------------------------------------------------------------
# STL residual anomaly flags (median/MAD over the remainder)
# ---------------------------------------------------------------------------


ANOM_TOP = 3  # most-anomalous days reported per event type: a
#               threshold fence is fixture-fragile here (the synthetic
#               residuals are short-tailed — a uniform distribution's
#               max deviation is exactly 2·MAD, so any normal-
#               consistent 2.25·MAD+ fence flags NOTHING structurally,
#               measured 0 rows at every SF); ranking by MAD-score
#               always surfaces the K weirdest days and reports the
#               score so the reader applies their own fence.


@query(
    "q_ts_anomaly_stl",
    oracle=f"""
WITH {_STL_CTES},
med AS (
  SELECT event_type, CAST(2 * quantile_cont(resid_milli, 0.5) AS BIGINT) AS med2
  FROM decomp GROUP BY event_type
),
dev AS (
  SELECT decomp.*, med2, abs(2 * resid_milli - med2) AS dd
  FROM decomp JOIN med ON decomp.event_type = med.event_type
),
mad AS (
  SELECT event_type, CAST(2 * quantile_cont(dd, 0.5) AS BIGINT) AS mad_d2
  FROM dev GROUP BY event_type
),
ranked AS (
  SELECT dev.event_type, day, y_cents, resid_milli,
         CAST(dd AS BIGINT) AS dd, med2, mad_d2,
         CAST(10000 * dd // mad_d2 AS BIGINT) AS score_bp,
         row_number() OVER (PARTITION BY dev.event_type
                            ORDER BY dd DESC, day) AS rn
  FROM dev JOIN mad ON dev.event_type = mad.event_type
)
SELECT event_type, day, y_cents, resid_milli, dd, med2, mad_d2, score_bp
FROM ranked WHERE rn <= {ANOM_TOP}
ORDER BY event_type, day
""",
)
def q_ts_anomaly_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition-based anomaly report: the {T} days per event
    type whose STL REMAINDER deviates most from its per-type median,
    in MAD units (score_bp = 10⁴·dd/mad) — the two-stage detector
    real monitoring runs (q_ts_cusum finds level shifts, q_rate_spike
    global bursts; this finds days that are anomalous AFTER trend and
    weekday seasonality are explained away, the only honest
    definition of "unexpected" for a seasonal metric). Reported as a
    top-k by MAD-score rather than a fixed fence — see ANOM_TOP for
    why a 2.25·MAD threshold is structurally empty on short-tailed
    residuals. Composes q_stl_decompose's exact decomposition (shared
    _stl_decomposition helper / _STL_CTES oracle prefix) with
    q_outliers_mad's doubled-median integer discipline: med2 =
    2·median, dd = |2·resid − med2| — every rank key and the bp score
    are exact integer arithmetic (quantile_cont of integers
    interpolates to halves, so doubling restores exactness), and the
    rank carries a (dd DESC, day) total order.

    Scale shape: everything after the decomposition operates on the
    |types|·|days| calendar grid — two grouped exact medians with
    broadcast joins back plus a per-type rank window over calendar
    rows; the fact is touched once, by the shared daily collapse."""
    d = park(_stl_decomposition(spark, sf_dir), spark, sf_dir)
    med = d.groupBy("event_type").agg(
        F.expr(
            "CAST(2 * percentile(resid_milli, 0.5) AS BIGINT)"
        ).alias("med2")
    )
    dev = d.join(F.broadcast(med), "event_type").withColumn(
        "dd", F.abs(2 * F.col("resid_milli") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(dd, 0.5) AS BIGINT)").alias("mad_d2")
    )
    wrank = Window.partitionBy("event_type").orderBy(F.desc("dd"), "day")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") <= ANOM_TOP)
        .select(
            "event_type", "day", "y_cents", "resid_milli",
            F.col("dd").cast("long").alias("dd"), "med2", "mad_d2",
            F.expr("CAST(10000 * dd DIV mad_d2 AS BIGINT)").alias("score_bp"),
        )
        .orderBy("event_type", "day")
    )


q_ts_anomaly_stl.__doc__ = q_ts_anomaly_stl.__doc__.replace("{T}", str(ANOM_TOP))


# ---------------------------------------------------------------------------
# BPE apply: tokenize the corpus with the learned merges
# ---------------------------------------------------------------------------


def _bpe_apply_oracle() -> str:
    us = "chr(31)"
    return (
        "WITH " + ",\n".join(_bpe_ctes()) + f""",
stf AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT source, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY source, word
),
seg AS (
  SELECT word,
         CAST(len(string_split(trim(s, {us}), {us} || {us})) AS BIGINT)
           AS n_syms
  FROM v{BPE_LEARN_K}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_word_types,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf * len(stf.word)) AS BIGINT) AS symbols_before,
       CAST(sum(tf * n_syms) AS BIGINT) AS symbols_after,
       CAST(1000 * sum(tf * len(stf.word)) // sum(tf * n_syms) AS BIGINT)
         AS compression_milli
FROM stf JOIN seg ON stf.word = seg.word
GROUP BY source
ORDER BY source
"""
    )


@query("q_bpe_apply", oracle=_bpe_apply_oracle())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize WITH the learned vocabulary: apply q_bpe_learn_k's
    {K} merges to every word and report the per-source compression —
    symbols before (characters) vs after (BPE symbols), the
    exchange-rate readout that closes the tokenizer-training loop
    (q_bpe_merge_step counts → q_bpe_learn_k learns → this APPLIES —
    and its compression_milli is exactly the quantity
    q_token_fertility monitors in production). Sources whose text the
    merges compress poorly are the OOV-heavy ones a vocabulary
    budget-setter up-weights next training round.

    Shares the merge chain verbatim (_bpe_chain / _bpe_ctes — the
    segmentation this query applies IS the one the learner produced,
    by construction, not a re-derivation). Per-source term frequencies
    join onto the merged VOCABULARY (word types), so corpus size never
    touches the chain.

    Determinism: symbol counts are codepoint/array lengths of
    deterministic strings; everything aggregates as exact BIGINTs; the
    ratio is one integer floor division of positive sums.

    Scale shape: one additional corpus pass (the per-(source, word) tf
    collapse, map-side combinable) + a vocabulary-keyed join against
    the chain's final segmentation — both bounded by |sources|·|vocab|,
    not corpus size; the output is |sources| rows."""
    v, _merges = _bpe_chain(spark, sf_dir)
    seg = v.select(
        "word",
        F.size(
            F.split(F.expr("trim(BOTH '\x1f' FROM s)"), "\x1f\x1f")
        ).cast("long").alias("n_syms"),
    )
    d = load(spark, sf_dir, "documents")
    stf = (
        d.select("source", F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return (
        stf.join(seg, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_word_types"),
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.length("word")).cast("long").alias("symbols_before"),
            F.sum(F.col("tf") * F.col("n_syms")).cast("long").alias("symbols_after"),
            F.expr(
                "CAST(1000 * sum(tf * length(word)) DIV sum(tf * n_syms) AS BIGINT)"
            ).alias("compression_milli"),
        )
        .orderBy("source")
    )


q_bpe_apply.__doc__ = q_bpe_apply.__doc__.replace("{K}", str(BPE_LEARN_K))


# ---------------------------------------------------------------------------
# Per-node clustering coefficient (oriented triangle attribution)
# ---------------------------------------------------------------------------

CC_TOP = 20


# Edge gate: support strictly above this disc-quantile (graph.gated_pairs).
CC_SUP_Q = 0.99


def _clustering_oracle() -> str:
    return f"""
WITH {_PAIRS_CTE},
{gated_pairs_sql(CC_SUP_Q)},
{ORIENT_CTES},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM o e1 JOIN o e2 ON e1.v = e2.u
            JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
),
tn AS (
  SELECT n, CAST(count(*) AS BIGINT) AS t
  FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY n
)
SELECT deg.n AS node, deg.d AS degree,
       CAST(coalesce(tn.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * coalesce(tn.t, 0) * 1000000 // (deg.d * (deg.d - 1)) AS BIGINT)
         AS cc_micro
FROM deg LEFT JOIN tn ON deg.n = tn.n
WHERE deg.d >= 2
ORDER BY cc_micro DESC, node
LIMIT {CC_TOP}
"""


@query("q_graph_clustering_coeff", oracle=_clustering_oracle())
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase graph:
    cc(v) = 2·T(v) / (d(v)·(d(v)−1)) — "how interconnected is this
    node's neighborhood", the per-node refinement of
    q_graph_triangles' global count and the structural input to
    spam-hub / community-seed triage (a high-degree node with cc ≈ 0
    is a hub bridging unrelated baskets; cc ≈ 1 is a clique member).
    Top-{N} nodes by (cc, node) among degree ≥ 2. The edge gate is
    the 0.99-disc-quantile rule (see graph.gated_pairs: a fixed
    min-support literal densifies 340× under volume replication and
    blows the wedge join up 35×, measured — the q_graph_kcore lesson).

    Triangle attribution: each triangle found ONCE by the
    degree-ordered oriented wedge join (q_graph_triangles' O(m^1.5)
    plan, graph.orient over the quantile-gated edges) is
    credited to ALL THREE corners via a 3-way node explode — per-node
    counts need no second triangle enumeration.

    Determinism: triangle counts, degrees are exact integers; cc in
    micro-units is one integer floor division (non-negative operands).

    Scale shape: the oriented out-neighborhoods are O(√m) by
    construction, so the wedge join is bounded; the attribution
    explode is 3 rows per triangle; degree and per-node counts are
    map-side-combinable node-sized aggregates; the final join is
    node-keyed. TakeOrdered bounds the report."""
    # degree-ordered orientation (q_graph_triangles' O(sqrt(m)) bound)
    # over the quantile-gated edge set; the shared _oriented_edges
    # entry is keyed to the MIN_SUP gate.
    deg, o = orient(gated_pairs(spark, sf_dir, CC_SUP_Q))
    o = park(o, spark, sf_dir)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tn = (
        tri.select(F.col("a").alias("n"))
        .unionByName(tri.select(F.col("b").alias("n")))
        .unionByName(tri.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("t"))
    )
    return (
        deg.join(tn, "n", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CAST(2 * coalesce(t, 0) * 1000000 DIV (d * (d - 1)) AS BIGINT)"
            ).alias("cc_micro"),
        )
        .orderBy(F.desc("cc_micro"), "node")
        .limit(CC_TOP)
    )


q_graph_clustering_coeff.__doc__ = q_graph_clustering_coeff.__doc__.replace(
    "{N}", str(CC_TOP)
)


# ---------------------------------------------------------------------------
# Experiment power analysis (minimum detectable effect)
# ---------------------------------------------------------------------------

# z-quantiles as shared literals (α = 0.05 two-sided, power = 0.80):
# the ONLY floats, identical text in both engines.
_Z_ALPHA2 = "1.9599639845400545"
_Z_BETA = "0.8416212335729143"

# MDE_abs = (z_{α/2} + z_β) · sqrt(s² · (1/n_a + 1/n_b)), s² the
# pooled per-user metric variance from exact BIGINT moments.
_POWER_S2 = (
    "((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * (n - 1)))"
)
_POWER_MDE = (
    f"(({_Z_ALPHA2} + {_Z_BETA}) * sqrt({_POWER_S2}"
    " * (1.0 / n_a + 1.0 / n_b)))"
)


@query(
    "q_abtest_power",
    oracle=f"""
WITH pu AS (
  SELECT user_id,
         CAST({duck_h31("CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS variant,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM pu
)
SELECT n, n_a, n_b,
       CAST(floor(CAST(sy AS DOUBLE) / n * 1000000.0 + 0.5) AS BIGINT)
         AS mean_micro,
       CAST(floor({_POWER_S2} * 1000000.0 + 0.5) AS BIGINT) AS var_micro,
       CAST(floor({_POWER_MDE} * 1000000.0 + 0.5) AS BIGINT) AS mde_abs_micro,
       CAST(floor({_POWER_MDE} / (CAST(sy AS DOUBLE) / n) * 10000.0 + 0.5)
            AS BIGINT) AS mde_rel_bp
FROM m
""",
)
def q_abtest_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the minimum detectable effect (MDE)
    of a two-variant test on per-user revenue at α = 0.05 (two-sided)
    and 80% power — MDE = (z_{{α/2}} + z_β)·√(s²·(1/n_a + 1/n_b)) —
    THE sizing computation run on HISTORICAL data before launching an
    experiment, completing the suite's lifecycle: this sizes it,
    q_srm_check gates the assignment, q_welch_ttest / q_abtest_cuped
    read it out. An MDE of e.g. 800 bp means effects under 8% are
    invisible at this traffic — ship the experiment longer or accept
    the blindness.

    Determinism: per-user cents and all moments are exact BIGINTs;
    z-quantiles are shared literal doubles; s², MDE, and the relative
    MDE are mirrored double expressions micro/bp-rounded per the
    q_graph_assortativity discipline. Planned allocation counts come
    from the same h31(user) % 2 assignment CUPED uses.

    Scale shape: one fact pass collapsing map-side to per-user rows,
    then a 1-row moment reduce — the cheapest plan a query can have.
    Σy² at 1e9 users needs decimal widening (documented, constants
    rescale)."""
    ev = load(spark, sf_dir, "events")
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .select(
            F.expr(
                f"CAST({spark_h31('CAST(user_id AS STRING)')} % 2 AS BIGINT)"
            ).alias("variant"),
            "y",
        )
    )
    m = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return m.select(
        "n",
        "n_a",
        "n_b",
        F.expr(
            "CAST(floor(CAST(sy AS DOUBLE) / n * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("mean_micro"),
        F.expr(
            f"CAST(floor({_POWER_S2} * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("var_micro"),
        F.expr(
            f"CAST(floor({_POWER_MDE} * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("mde_abs_micro"),
        F.expr(
            f"CAST(floor({_POWER_MDE} / (CAST(sy AS DOUBLE) / n) * 10000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("mde_rel_bp"),
    )


# ===========================================================================
# Third session batch — four more:
# TextRank (PageRank lowered onto a text-derived graph), KMV sketch
# ALGEBRA (union/intersection estimates from mergeable sketches),
# a literal-twiddle weekly DFT, and Kneser-Ney continuation counts.
# ===========================================================================


# ---------------------------------------------------------------------------
# TextRank keyword extraction
# ---------------------------------------------------------------------------

TR_STOP_K = 10   # df-bootstrap stoplist (q_text_rake's discipline) —
#                  HALF of RAKE's 20: the fixture's prose draws on a
#                  ~31-type vocabulary, and stopping 20 of 31 would
#                  leave an 11-node graph; a language-scale corpus
#                  uses a language-scale stoplist, the knob is the
#                  contract
TR_WINDOW = 2    # co-occurrence window over the stop-filtered sequence
TR_ROUNDS = 3    # PageRank rounds (q_graph_pagerank's knob)
TR_TOP = 20
_TR_T = 1_000_000_000_000  # total rank mass in integer units


def _textrank_oracle() -> str:
    ctes = [
        _POSTINGS_SQL,
        f"""tdf AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
  FROM post GROUP BY word
)""",
        f"stopw AS (SELECT word FROM tdf ORDER BY dfreq DESC, word LIMIT {TR_STOP_K})",
        """fpost AS (
  SELECT doc_id, word,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS fpos
  FROM post WHERE word NOT IN (SELECT word FROM stopw)
)""",
        f"""wedge AS (
  SELECT a.word AS wa, b.word AS wb, CAST(count(*) AS BIGINT) AS w
  FROM fpost a JOIN fpost b
    ON a.doc_id = b.doc_id
   AND b.fpos - a.fpos BETWEEN 1 AND {TR_WINDOW}
   AND a.word <> b.word
  GROUP BY a.word, b.word
)""",
        """edges AS (
  SELECT wa AS src, wb AS dst, CAST(sum(w) AS BIGINT) AS w
  FROM (SELECT wa, wb, w FROM wedge
        UNION ALL SELECT wb AS wa, wa AS wb, w FROM wedge)
  GROUP BY wa, wb
)""",
        "tnodes AS (SELECT DISTINCT src AS node FROM edges)",
        f"""tpar AS (
  SELECT {_TR_T} // count(*) AS r_init,
         (15 * ({_TR_T} // count(*))) // 100 AS base
  FROM tnodes
)""",
        "strength AS (SELECT src, CAST(sum(w) AS BIGINT) AS s FROM edges GROUP BY src)",
        "tr0 AS (SELECT node, (SELECT r_init FROM tpar) AS r FROM tnodes)",
    ]
    for k in range(1, TR_ROUNDS + 1):
        ctes.append(f"""tc{k} AS (
  SELECT e.dst AS node, sum((tr{k - 1}.r // strength.s) * e.w) AS c
  FROM edges e
  JOIN strength ON e.src = strength.src
  JOIN tr{k - 1} ON tr{k - 1}.node = e.src
  GROUP BY e.dst
)""")
        ctes.append(f"""tr{k} AS (
  SELECT n.node, (SELECT base FROM tpar) + (85 * COALESCE(tc{k}.c, 0)) // 100 AS r
  FROM tnodes n LEFT JOIN tc{k} ON tc{k}.node = n.node
)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node AS word, CAST(r AS BIGINT) AS rank_units
FROM tr{TR_ROUNDS}
ORDER BY rank_units DESC, word
LIMIT {TR_TOP}
"""
    )


@query("q_text_textrank", oracle=_textrank_oracle())
def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    word co-occurrence graph (edges between non-stopword tokens within
    {W} positions of each other in the stop-filtered sequence, weighted
    by co-occurrence count) and rank words by weighted PageRank —
    graph-centrality keywords, the global counterpart of q_text_rake's
    local degree/frequency scores (RAKE finds multiword PHRASES; this
    finds the corpus's structurally central TERMS). The engine's
    integer PageRank (q_graph_pagerank's 1e-12-unit fixed-point, 0.85
    damping, {R} rounds) LOWERED ONTO A TEXT-DERIVED GRAPH — the
    whole point of building operators compositionally.

    Determinism: the stoplist is a (df DESC, word) total order; edge
    weights are exact counts; each round is integer division and
    integer sums per q_graph_pagerank's order-independence argument
    (per-edge contribution = (r // strength)·w, all BIGINT); top-{N}
    carries the (rank DESC, word) tiebreak.

    Scale shape: the window adjacency is a doc-keyed band self-join
    over the re-indexed filtered postings (per-doc fan-out ≤ {W});
    the edge relation collapses to word-pair TYPES map-side before
    its exchange; strength folds into the edge relation once; each
    PageRank round exchanges only the vocabulary-sized rank relation
    (edges persist pre-hashed on src). Vocabulary-bound end to end —
    the corpus is touched once, by the postings explode."""

    def _build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        post = token_postings(docs)
        tdf = post.groupBy("word").agg(
            F.countDistinct("doc_id").cast("long").alias("dfreq")
        )
        stopw = (
            tdf.orderBy(F.desc("dfreq"), "word").limit(TR_STOP_K).select("word")
        )
        fpost = (
            post.join(F.broadcast(stopw), "word", "left_anti")
            .withColumn(
                "fpos",
                F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
            )
            .select("doc_id", "word", "fpos")
        )
        a, b = fpost.alias("a"), fpost.alias("b")
        wedge = (
            a.join(
                b,
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("b.fpos") - F.col("a.fpos")).between(1, TR_WINDOW)
                & (F.col("a.word") != F.col("b.word")),
            )
            .groupBy(F.col("a.word").alias("wa"), F.col("b.word").alias("wb"))
            .agg(F.count("*").cast("long").alias("w"))
        )
        edges = (
            wedge.unionByName(
                wedge.select(
                    F.col("wb").alias("wa"), F.col("wa").alias("wb"), "w"
                )
            )
            .groupBy(F.col("wa").alias("src"), F.col("wb").alias("dst"))
            .agg(F.sum("w").cast("long").alias("w"))
        )
        strength = edges.groupBy("src").agg(F.sum("w").cast("long").alias("s"))
        return (
            edges.join(strength, "src")
            .repartition(F.col("src"))
            .sortWithinPartitions("src")
        )

    edges_s = memo(spark, sf_dir, "textrank_cooc", lambda: _build().persist())
    tnodes = edges_s.select(F.col("src").alias("node")).distinct()
    tpar = tnodes.agg(
        F.expr(f"{_TR_T} DIV count(*) AS r_init"),
        F.expr(f"(15 * ({_TR_T} DIV count(*))) DIV 100 AS base"),
    )
    r = tnodes.crossJoin(F.broadcast(tpar)).select(
        "node", F.col("r_init").alias("r")
    )
    for _ in range(TR_ROUNDS):
        contrib = (
            edges_s.join(r, edges_s.src == r.node)
            .select("dst", F.expr("(r DIV s) * w").alias("c"))
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum("c").alias("c"))
        )
        # vocabulary-sized rank relation, parked per round so the
        # chain of join+agg rounds stays linear
        r = park(
            tnodes.join(contrib, tnodes.node == contrib.node2, "left")
            .crossJoin(F.broadcast(tpar))
            .select(
                "node",
                F.expr("base + (85 * COALESCE(c, 0)) DIV 100").alias("r"),
            ),
            spark,
            sf_dir,
        )
    return (
        r.select(F.col("node").alias("word"), F.col("r").cast("long").alias("rank_units"))
        .orderBy(F.desc("rank_units"), "word")
        .limit(TR_TOP)
    )


q_text_textrank.__doc__ = (
    q_text_textrank.__doc__
    .replace("{W}", str(TR_WINDOW))
    .replace("{R}", str(TR_ROUNDS))
    .replace("{N}", str(TR_TOP))
)


# ---------------------------------------------------------------------------
# KMV sketch algebra: pairwise union/intersection estimates + audit
# ---------------------------------------------------------------------------


def _kmv_union_oracle() -> str:
    from kafka_to_parquet_spark.llm.corpus_stats import KMV_K

    return f"""
WITH dw AS (
  SELECT DISTINCT source, word
  FROM (SELECT source, unnest({_TOKENS_SQL}) AS word FROM documents)
),
hv AS (SELECT DISTINCT source, {duck_h31("word")} AS hv FROM dw),
kept AS (
  SELECT source, hv FROM (
    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
    FROM hv) WHERE rk <= {KMV_K}
),
singles AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(max(hv) AS BIGINT) AS h_k
  FROM kept GROUP BY source
),
sest AS (
  SELECT source,
         CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept
                   ELSE CAST({KMV_K} - 1 AS BIGINT) * {H31_P} // h_k END
              AS BIGINT) AS est
  FROM singles
),
srcs AS (SELECT DISTINCT source FROM dw),
prs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
merged AS (
  SELECT sa, sb, hv FROM (
    SELECT p.sa, p.sb, k.hv FROM prs p JOIN kept k ON k.source = p.sa
    UNION
    SELECT p.sa, p.sb, k.hv FROM prs p JOIN kept k ON k.source = p.sb
  )
),
mr AS (
  SELECT sa, sb, hv,
         row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY sa, sb) AS n_m
  FROM merged
),
uest AS (
  SELECT sa, sb,
         CAST(CASE WHEN max(n_m) < {KMV_K} THEN max(n_m)
                   ELSE CAST({KMV_K} - 1 AS BIGINT) * {H31_P}
                        // max(CASE WHEN rk = {KMV_K} THEN hv END) END
              AS BIGINT) AS est_union
  FROM mr GROUP BY sa, sb
),
uex AS (
  SELECT sa, sb, CAST(count(DISTINCT word) AS BIGINT) AS exact_union
  FROM (
    SELECT p.sa, p.sb, d.word FROM prs p JOIN dw d ON d.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, d.word FROM prs p JOIN dw d ON d.source = p.sb
  ) GROUP BY sa, sb
),
sex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM dw GROUP BY source)
SELECT u.sa AS source_a, u.sb AS source_b,
       ea.n_exact AS exact_a, eb.n_exact AS exact_b,
       x.exact_union, u.est_union,
       CAST(abs(u.est_union - x.exact_union) * 10000 // x.exact_union AS BIGINT)
         AS err_union_bp,
       CAST(sa2.est + sb2.est - u.est_union AS BIGINT) AS est_inter,
       CAST(ea.n_exact + eb.n_exact - x.exact_union AS BIGINT) AS exact_inter
FROM uest u
JOIN uex x ON u.sa = x.sa AND u.sb = x.sb
JOIN sex ea ON u.sa = ea.source
JOIN sex eb ON u.sb = eb.source
JOIN sest sa2 ON u.sa = sa2.source
JOIN sest sb2 ON u.sb = sb2.source
ORDER BY source_a, source_b
"""


@query("q_kmv_union_audit", oracle=_kmv_union_oracle())
def q_kmv_union_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA, audited: the property that makes KMV the
    production distinct-count sketch is MERGEABILITY — the union of
    two vocabularies is estimated by merging their K-minimum sets and
    re-truncating to K, and intersections follow by inclusion-
    exclusion, all WITHOUT re-touching the data. This query estimates
    |vocab(a) ∪ vocab(b)| and |vocab(a) ∩ vocab(b)| for every source
    pair from the per-source sketches alone, next to exact counts and
    the realized union error in bp — extending q_kmv_distinct (point
    estimates) to the set-operation layer a dataset-overlap dashboard
    actually runs on (q_source_vocab_overlap computes these overlaps
    EXACTLY at vocabulary cost; this gets them from 20 sketches of
    {K} values — the 100 TB path).

    Determinism: h31 minima are exact integers; per-set K-th order
    statistics via rank windows; sets smaller than K estimate exactly
    (their sketch IS the set) through an identical CASE in both
    engines; inclusion-exclusion is signed integer arithmetic.

    Scale shape: the data-sized work is ONE distinct over (source,
    word) + one rank window per source — everything pairwise operates
    on kept sketches (≤ |sources|·{K} rows): the merged-pair relation
    is ≤ |pairs|·2{K} rows however large the corpus. The exact-union
    audit leg is the expensive one BY CONSTRUCTION (it is the ground
    truth being compared against, the q_lsh_recall discipline) and
    drops in production."""
    from kafka_to_parquet_spark.llm.corpus_stats import KMV_K

    d = load(spark, sf_dir, "documents")
    dw = park(
        d.select("source", F.explode(tokens_col(F.col("text"))).alias("word"))
        .distinct(),
        spark,
        sf_dir,
    )
    hv = dw.select("source", F.expr(spark_h31("word")).alias("hv")).distinct()
    kept = park(
        hv.withColumn(
            "rk", F.row_number().over(Window.partitionBy("source").orderBy("hv"))
        )
        .filter(F.col("rk") <= KMV_K)
        .select("source", "hv"),
        spark,
        sf_dir,
    )
    singles = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("hv").cast("long").alias("h_k"),
    )
    sest = singles.select(
        "source",
        F.expr(
            f"CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept"
            f" ELSE CAST({KMV_K} - 1 AS BIGINT) * {H31_P} DIV h_k END AS BIGINT)"
        ).alias("est"),
    )
    srcs = dw.select("source").distinct()
    prs = park(
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb")),
        spark,
        sf_dir,
    )
    ka = prs.join(kept, prs.sa == kept.source).select("sa", "sb", "hv")
    kb = prs.join(kept, prs.sb == kept.source).select("sa", "sb", "hv")
    merged = ka.unionByName(kb).distinct()
    mr = merged.select(
        "sa",
        "sb",
        "hv",
        F.row_number()
        .over(Window.partitionBy("sa", "sb").orderBy("hv"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("sa", "sb")).alias("n_m"),
    )
    uest = mr.groupBy("sa", "sb").agg(
        F.expr(
            f"CAST(CASE WHEN max(n_m) < {KMV_K} THEN max(n_m)"
            f" ELSE CAST({KMV_K} - 1 AS BIGINT) * {H31_P}"
            f" DIV max(CASE WHEN rk = {KMV_K} THEN hv END) END AS BIGINT)"
        ).alias("est_union")
    )
    da = prs.join(dw, prs.sa == dw.source).select("sa", "sb", "word")
    db = prs.join(dw, prs.sb == dw.source).select("sa", "sb", "word")
    uex = (
        da.unionByName(db)
        .groupBy("sa", "sb")
        .agg(F.countDistinct("word").cast("long").alias("exact_union"))
    )
    sex = dw.groupBy("source").agg(F.count("*").cast("long").alias("n_exact"))
    ea = sex.select(F.col("source").alias("sa"), F.col("n_exact").alias("exact_a"))
    eb = sex.select(F.col("source").alias("sb"), F.col("n_exact").alias("exact_b"))
    esta = sest.select(F.col("source").alias("sa"), F.col("est").alias("est_a"))
    estb = sest.select(F.col("source").alias("sb"), F.col("est").alias("est_b"))
    return (
        uest.join(uex, ["sa", "sb"])
        .join(F.broadcast(ea), "sa")
        .join(F.broadcast(eb), "sb")
        .join(F.broadcast(esta), "sa")
        .join(F.broadcast(estb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "exact_a",
            "exact_b",
            "exact_union",
            "est_union",
            F.expr(
                "CAST(abs(est_union - exact_union) * 10000 DIV exact_union"
                " AS BIGINT)"
            ).alias("err_union_bp"),
            F.expr("CAST(est_a + est_b - est_union AS BIGINT)").alias("est_inter"),
            F.expr(
                "CAST(exact_a + exact_b - exact_union AS BIGINT)"
            ).alias("exact_inter"),
        )
        .orderBy("source_a", "source_b")
    )


q_kmv_union_audit.__doc__ = q_kmv_union_audit.__doc__.replace(
    "{K}", str(_KMV_K)
)


# ---------------------------------------------------------------------------
# Weekly spectral strength (single-bin DFT with literal twiddles)
# ---------------------------------------------------------------------------

# cos/sin(2πk/7) for k = 0..6 as repr-exact double literals: both
# engines parse the same decimal to the same IEEE double, so no libm
# cos/sin (whose last-ulp behavior is NOT guaranteed identical across
# JVM and DuckDB) ever runs at query time. The weekday index selects
# the literal — the classic twiddle-factor table, radix 7.
_TW_COS = (
    "1.0", "0.6234898018587336", "-0.22252093395631434",
    "-0.900968867902419", "-0.9009688679024191",
    "-0.2225209339563146", "0.6234898018587334",
)
_TW_SIN = (
    "0.0", "0.7818314824680298", "0.9749279121818236",
    "0.43388373911755823", "-0.433883739117558",
    "-0.9749279121818236", "-0.7818314824680299",
)


def _tw_case(table: tuple[str, ...]) -> str:
    return (
        "CASE dow "
        + " ".join(f"WHEN {k} THEN {v}" for k, v in enumerate(table))
        + " END"
    )


# Per-day projection fenced to integer milli-units BEFORE the sum (the
# q_mutual_information per-cell rounding discipline: no cross-row
# float accumulation exists), then exact BIGINT sums; the final
# amplitude/share is ONE mirrored double expression over those sums.
_SPEC_XR = f"CAST(floor(yc * ({_tw_case(_TW_COS)}) * 1000.0 + 0.5) AS BIGINT)"
_SPEC_XI = f"CAST(floor(yc * ({_tw_case(_TW_SIN)}) * 1000.0 + 0.5) AS BIGINT)"
_SPEC_BP = (
    "CAST(floor(10000.0 * sqrt(CAST(xr AS DOUBLE) * xr + CAST(xi AS DOUBLE) * xi)"
    " / (1000.0 * total_cents) + 0.5) AS BIGINT)"
)


@query(
    "q_ts_spectral_dow",
    oracle=f"""
WITH {_STL_DAILY},
proj AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) % 7 AS dow,
         yc
  FROM daily
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(yc) AS BIGINT) AS total_cents,
         CAST(sum({_SPEC_XR}) AS BIGINT) AS xr,
         CAST(sum({_SPEC_XI}) AS BIGINT) AS xi
  FROM proj GROUP BY event_type
)
SELECT event_type, n_days, total_cents, xr AS xr_milli, xi AS xi_milli,
       {_SPEC_BP} AS weekly_amp_bp
FROM sums
ORDER BY event_type
""",
)
def q_ts_spectral_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin discrete Fourier transform of each event type's
    daily revenue at the WEEKLY frequency: X = Σ_d y_d·e^(−2πi·dow/7),
    reported as the real/imaginary integer sums and the amplitude as
    a share of total revenue in bp — the spectral twin of
    q_seasonality_dow's χ² (χ² says "the weekday histogram is
    non-uniform"; the DFT bin measures HOW MUCH of the signal's mass
    beats at exactly one cycle per week, and its phase — xr/xi — says
    WHERE in the week the peak sits). The one-bin Goertzel-style form
    is what a 100 TB pipeline runs per metric: a full FFT needs the
    series on one machine, a fixed bin is a map-side sum.

    Engine-exactness without trusting libm: the seven twiddle factors
    are repr-exact double LITERALS (see _TW_COS — JVM cos vs DuckDB
    cos may differ in the last ulp, parsed decimal literals cannot);
    each day's projection is micro-fenced to integer milli-units
    before the per-type sum (no cross-row float order exists); the
    final amplitude share is one mirrored sqrt expression over exact
    BIGINTs.

    Scale shape: the fact collapses map-side to the |types|·|days|
    calendar grid (shared _STL_DAILY), then ONE grouped sum — the
    cheapest possible spectral estimator."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("yc")
    )
    proj = daily.select(
        "event_type",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("long") % 7
        ).alias("dow"),
        "yc",
    )
    sums = proj.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("yc").cast("long").alias("total_cents"),
        F.sum(F.expr(_SPEC_XR)).cast("long").alias("xr"),
        F.sum(F.expr(_SPEC_XI)).cast("long").alias("xi"),
    )
    return sums.select(
        "event_type",
        "n_days",
        "total_cents",
        F.col("xr").alias("xr_milli"),
        F.col("xi").alias("xi_milli"),
        F.expr(_SPEC_BP).alias("weekly_amp_bp"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Kneser-Ney continuation counts
# ---------------------------------------------------------------------------

KN_TOP = 20


@query(
    "q_kn_continuation",
    oracle=f"""
WITH {_POSTINGS_SQL},
bg AS (
  SELECT DISTINCT p1.word AS w1, p2.word AS w2
  FROM post p1 JOIN post p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
),
nbt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bg),
cont AS (
  SELECT w2 AS word, CAST(count(*) AS BIGINT) AS cont_count
  FROM bg GROUP BY w2
),
freq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS raw_freq
  FROM post GROUP BY word
)
SELECT cont.word, cont_count, raw_freq, n_types,
       CAST(cont_count * 1000000 // n_types AS BIGINT) AS kn_prob_ppm,
       CAST(raw_freq * 1000 // cont_count AS BIGINT) AS burst_ratio_milli
FROM cont JOIN freq ON cont.word = freq.word CROSS JOIN nbt
ORDER BY cont_count DESC, cont.word
LIMIT {KN_TOP}
""",
)
def q_kn_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation counts — the statistic behind THE
    canonical n-gram LM smoother (Kneser & Ney 1995; still the
    baseline every neural LM paper reports against): a word's unigram
    probability under KN is proportional not to how OFTEN it occurs
    but to how many DISTINCT left contexts it follows (N1+(·w) over
    the bigram-type total). The divergence from raw frequency is the
    famous "San Francisco" effect — "francisco" is frequent but
    follows only "san", so KN correctly refuses to predict it in
    novel contexts; burst_ratio (freq per context) makes that gap a
    reported column. Complements q_text_unigram_logprob (raw-count
    LM) and q_word_burstiness (cf/df — the document-level analog;
    this is the SEQUENCE-level one).

    Determinism: bigram TYPES are a distinct over the adjacency join;
    continuation counts, frequencies, the type total, and both ratios
    are exact integers with full (count DESC, word) tiebreaks.

    Scale shape: the adjacency self-join is doc-keyed (q_search_phrase
    topology); the distinct collapses to bigram types before any
    counting; continuation counts are a vocabulary-sized aggregate;
    the scalar type-total broadcasts. Top-{N} is TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    p1, p2 = post.alias("p1"), post.alias("p2")
    bg = (
        p1.join(
            p2,
            (F.col("p1.doc_id") == F.col("p2.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1),
        )
        .select(F.col("p1.word").alias("w1"), F.col("p2.word").alias("w2"))
        .distinct()
    )
    nbt = bg.agg(F.count("*").cast("long").alias("n_types"))
    cont = bg.groupBy(F.col("w2").alias("word")).agg(
        F.count("*").cast("long").alias("cont_count")
    )
    freq = post.groupBy("word").agg(F.count("*").cast("long").alias("raw_freq"))
    return (
        cont.join(freq, "word")
        .crossJoin(F.broadcast(nbt))
        .select(
            "word",
            "cont_count",
            "raw_freq",
            "n_types",
            F.expr("CAST(cont_count * 1000000 DIV n_types AS BIGINT)").alias(
                "kn_prob_ppm"
            ),
            F.expr("CAST(raw_freq * 1000 DIV cont_count AS BIGINT)").alias(
                "burst_ratio_milli"
            ),
        )
        .orderBy(F.desc("cont_count"), "word")
        .limit(KN_TOP)
    )


q_kn_continuation.__doc__ = q_kn_continuation.__doc__.replace("{N}", str(KN_TOP))


# ---------------------------------------------------------------------------
# Simplified silhouette audit of the k-means assignment
# ---------------------------------------------------------------------------

# Per-vector simplified silhouette s = 1 − √(a/b): a = squared
# distance to the OWN (nearest) centroid, b = to the runner-up —
# the centroid form of Rousseeuw's silhouette that scales (the full
# form needs all pairwise point distances). a ≤ b by construction so
# s ∈ [0, 1]; s ≈ 0 means the point sits on a cluster boundary.
_SIL_MICRO = (
    "CAST(CASE WHEN b_d2 <= 0 THEN 0 ELSE"
    " floor((1.0 - sqrt(a_d2 / b_d2)) * 1000000 + 0.5) END AS BIGINT)"
)


def _silhouette_oracle() -> str:
    from kafka_to_parquet_spark.llm.clustering import (
        KM_K,
        KM_MOD,
        duck_ivf_assign_cte,
    )

    return f"""
WITH {duck_ivf_assign_cte(KM_MOD, KM_K)},
two AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cent_id END) AS cent_id,
         max(CASE WHEN rn = 1 THEN d2 END) AS a_d2,
         max(CASE WHEN rn = 2 THEN d2 END) AS b_d2
  FROM (SELECT vec_id, cent_id, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
        FROM scored)
  WHERE rn <= 2 GROUP BY vec_id
),
sil AS (SELECT cent_id, {_SIL_MICRO} AS s FROM two)
SELECT cent_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_micro,
       CAST(min(s) AS BIGINT) AS min_sil_micro,
       CAST(max(s) AS BIGINT) AS max_sil_micro
FROM sil GROUP BY cent_id
ORDER BY cent_id
"""


@query("q_kmeans_silhouette", oracle=_silhouette_oracle())
def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette audit of the k-means assignment
    (Rousseeuw 1987, centroid form): per vector, s = 1 − √(a/b) over
    the distances to its nearest and runner-up centroids, aggregated
    per cluster — the clustering-QUALITY leg the Lloyd family lacked
    (q_kmeans_step/q_kmeans3 produce assignments; q_ann_recall-style
    discipline says measure them: a cluster whose mean silhouette ≈ 0
    is an artifact of k, not structure — exactly what a semantic-dedup
    pipeline checks before trusting q_semdedup's buckets). The full
    silhouette needs all pairwise point distances (corpus-quadratic);
    the centroid form is THE scalable variant and shares its
    assignment stage verbatim with the declared family
    (ivf_scored / duck_ivf_assign_cte — same d2 rounding, same
    tiebreak).

    Determinism: d2 values are the family's shared round(·, 6)
    mirrored doubles; per-vector s is ONE mirrored CASE+sqrt
    expression micro-rounded; per-cluster stats are exact integer
    aggregates of those micro values (sum DIV count on non-negatives).

    Scale shape: centroids broadcast into the embedding scan; the
    nearest-two reduction is a per-vector sort of K=5 scored rows
    collected map-side (sort_array over a bounded list — the shuffle
    carries N pre-reduced rows, never N·k window rows); the final
    aggregate is K rows."""
    from kafka_to_parquet_spark.llm.clustering import KM_K, KM_MOD, ivf_scored

    e = load(spark, sf_dir, "embeddings")
    scored = ivf_scored(e, KM_MOD, KM_K)
    two = (
        scored.groupBy("vec_id")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(d2, cent_id)))"
            ).alias("ranked")
        )
        .select(
            F.expr("ranked[0].cent_id").alias("cent_id"),
            F.expr("ranked[0].d2").alias("a_d2"),
            F.expr("ranked[1].d2").alias("b_d2"),
        )
    )
    sil = two.select("cent_id", F.expr(_SIL_MICRO).alias("s"))
    return (
        sil.groupBy("cent_id")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.expr("CAST(sum(s) DIV count(*) AS BIGINT)").alias("mean_sil_micro"),
            F.min("s").cast("long").alias("min_sil_micro"),
            F.max("s").cast("long").alias("max_sil_micro"),
        )
        .orderBy("cent_id")
    )


# ---------------------------------------------------------------------------
# Cross-split near-dup leakage report
# ---------------------------------------------------------------------------

LEAK_JAC_BP = 5000  # verified near-dup gate (q_dedup_minhash's 0.5)


def _leakage_oracle() -> str:
    from kafka_to_parquet_spark.llm.minhash import _minhash_cand_cte
    from kafka_to_parquet_spark.llm.pipeline import _SPLIT_CASE

    case_a = _SPLIT_CASE.replace("doc_id", "doc_a")
    case_b = _SPLIT_CASE.replace("doc_id", "doc_b")
    return f"""
WITH {_minhash_cand_cte()},
ver AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id
  WHERE len(list_intersect(sa.sh, sb.sh)) * 10000
        // (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= {LEAK_JAC_BP}
),
lab AS (
  SELECT least({case_a}, {case_b}) AS split_a,
         greatest({case_a}, {case_b}) AS split_b,
         doc_a, doc_b
  FROM ver
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lab)
SELECT split_a, split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * 10000 // n_total AS BIGINT) AS share_bp,
       CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT) AS leaked,
       CAST(min(doc_a) AS BIGINT) AS example_doc_a
FROM lab CROSS JOIN tot
GROUP BY split_a, split_b, n_total
ORDER BY split_a, split_b
"""


@query("q_split_leakage", oracle=_leakage_oracle())
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE report: verified near-dup
    pairs (q_dedup_minhash's banded candidates + exact-Jaccard ≥ 0.5
    gate, integer-bp form) labeled with each member's split under the
    DECLARED hash splitter (q_split_assign's exact CASE, textually
    shared) and aggregated per split pair — rows with split_a ≠
    split_b are eval answers sitting in the training set, THE failure
    mode dedup-before-split exists to prevent (and the one a
    train/val loss gap can't distinguish from generalization). This
    is the audit that justifies running q_dedup_* before
    q_split_assign; q_decontaminate checks leakage against an
    EXTERNAL benchmark, this checks it between the corpus's own
    splits.

    Determinism: candidates and the Jaccard gate are the certified
    q_dedup_minhash machinery (shared CTE/helpers verbatim); split
    labels are the certified splitter's integer-hash CASE; the label
    pair is (least, greatest) so the report is orientation-free;
    counts/shares exact integers.

    Scale shape: everything up to `ver` is q_dedup_minhash's plan
    (banded, hot-bucket-capped, digest-only exchanges); the labeling
    is two scalar CASE expressions; the report aggregate is ≤ 6 rows
    with a broadcast 1-row total."""
    from kafka_to_parquet_spark.llm.minhash import (
        _hashed_shingles,
        minhash_candidates,
    )
    from kafka_to_parquet_spark.llm.pipeline import _SPLIT_CASE

    cand = minhash_candidates(spark, sf_dir)
    sh = _hashed_shingles(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    ver = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.expr(
                "size(array_intersect(hs_a, hs_b)) * 10000"
                " DIV (size(hs_a) + size(hs_b) - size(array_intersect(hs_a, hs_b)))"
            )
            >= LEAK_JAC_BP
        )
        .select("doc_a", "doc_b")
    )
    case_a = _SPLIT_CASE.replace("doc_id", "doc_a")
    case_b = _SPLIT_CASE.replace("doc_id", "doc_b")
    lab = ver.select(
        F.expr(f"least({case_a}, {case_b})").alias("split_a"),
        F.expr(f"greatest({case_a}, {case_b})").alias("split_b"),
        "doc_a",
    )
    tot = lab.agg(F.count("*").cast("long").alias("n_total"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("split_a", "split_b", "n_total")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("CAST(count(*) * 10000 DIV first(n_total) AS BIGINT)").alias(
                "share_bp"
            ),
            F.expr(
                "CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("leaked"),
            F.min("doc_a").cast("long").alias("example_doc_a"),
        )
        .select(
            "split_a", "split_b", "n_pairs", "share_bp", "leaked", "example_doc_a"
        )
        .orderBy("split_a", "split_b")
    )
