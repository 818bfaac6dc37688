"""Round-7 session additions, one module across domains. The first
five extend existing families with genuinely new topology:

- q_graph_kcore     — iterative k-core peel (3 fixed rounds), the
                      degree-constrained subgraph primitive pagerank/
                      BFS/triangles don't cover.
- q_search_phrase   — POSITIONAL inverted index: adjacency self-join
                      on (doc, pos+1), the phrase-query topology the
                      bag-of-words retrieval family can't express.
- q_multimodal_hashdup — exact dedup over the opaque BINARY media
                      column (hash-groupBy on md5 of the payload
                      bytes), extending the multimodal family past
                      decode plumbing to a real pipeline op.
- q_keyness         — per-source distinctive vocabulary by smoothed
                      log-odds ratio (corpus keyness), the
                      source-level twin of doc-level TF-IDF.
- q_minhash_bbit    — b-bit MinHash (b=1) estimator audit vs exact
                      Jaccard per decile: the storage-compression leg
                      of the sketch-audit suite (est_err grades the
                      full minima; this grades keeping ONE bit each).

A second session batch appends four more:

- q_graph_label_prop   — synchronous label-propagation communities
                         (deterministic mode-label tiebreak), the
                         community-detection leg components/pagerank/
                         k-core don't cover.
- q_ts_sax_motif       — rank-based SAX discretization + trigram
                         motif mining over hourly event series.
- q_token_fertility    — subword-per-word tokenizer exchange rate
                         per (lang, source), the mixing-weight input.
- q_decontaminate_embed — embedding-space benchmark decontamination
                         via the angular-LSH band index (asymmetric
                         eval×train candidate join).
- q_stream_topk        — windowed trending top-k per tumbling window
                         (batch-equivalent form, streaming/windows.py
                         discipline), the streaming heavy-hitters
                         report.

The reference (a straight-line Kafka→parquet ETL, src/main.rs:59-294)
has none of these; they are part of the mandated LLM-pipeline /
analytics extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import park
from kafka_to_parquet_spark.functions.text import (
    _POSTINGS_SQL,
    _TOKENS_SQL,
    BPE_PATTERN,
    token_postings,
    tokens_col,
)
from kafka_to_parquet_spark.operators.graph import (
    TRADE_EDGES_CTES,
    label_propagation,
    lpa_sql,
    trade_edges,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# ---------------------------------------------------------------------------
# k-core decomposition (fixed peel rounds)
# ---------------------------------------------------------------------------

KCORE_Q = 0.25    # the peel threshold K = this disc-quantile of the
#                   INITIAL degree distribution (a fixed literal K is
#                   degenerate across SFs here: the fixture's degrees
#                   grow with corpus size — median 10 at sf0.001, 39
#                   at sf0.1 — so any constant either peels everything
#                   or nothing; the quantile guarantees ~25% of nodes
#                   start below K at every scale, and percentile_disc/
#                   quantile_disc select the same element in both
#                   engines — the q_rfm_segments cut-point rule)
KCORE_ROUNDS = 3  # fixed rounds (full decomposition iterates to a
#                   fixed point; a bounded prefix keeps the oracle a
#                   finite CTE chain — the q_bfs_levels discipline)


def _kcore_oracle() -> str:
    ctes = [
        TRADE_EDGES_CTES,
        "r0 AS (SELECT DISTINCT src AS node FROM edges)",
        """d0 AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
)""",
        f"""kq AS (
  SELECT CAST(quantile_disc(deg, {KCORE_Q}) AS BIGINT) AS kk FROM d0
)""",
    ]
    for k in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""d{k} AS (
  SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges e
  JOIN r{k - 1} a ON e.src = a.node
  JOIN r{k - 1} b ON e.dst = b.node
  GROUP BY e.src
)""")
        ctes.append(
            f"r{k} AS (SELECT node FROM d{k} CROSS JOIN kq WHERE deg >= kk)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node, CAST(deg AS BIGINT) AS degree
FROM d{KCORE_ROUNDS} CROSS JOIN kq WHERE deg >= kk
ORDER BY node
"""
    )


@query("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel over the customer–supplier bipartite graph
    (q_graph_pagerank's edge set): repeatedly drop vertices whose
    degree in the SURVIVING subgraph is < K, here {R} fixed rounds —
    the dense-subgraph primitive behind community seeding and
    spam/boilerplate hub detection. K is the {Q} disc-quantile of the
    INITIAL degree distribution (one broadcast scalar, engine-
    identical by the q_rfm_segments percentile_disc/quantile_disc
    rule — see KCORE_Q for why a literal K degenerates on this
    fixture). Emits the round-{R} survivors with their
    within-subgraph degree (measured against round-{R-1} survivors —
    matched exactly by the oracle's CTE chain).

    Determinism: exact integer degrees over a distinct edge set; K is
    a discrete order statistic of integers; the survivor predicate is
    an integer comparison. No floats.

    Scale shape (the q_bfs_levels / pagerank loop discipline): edges
    are graph.trade_edges (persisted once, pre-hashed on src); each
    round is two node-sized semi joins against the (shrinking)
    survivor relation plus one src-keyed count, and each round's
    survivor set is parked (cache.park) — the next
    round references it on BOTH join sides and the final round nests
    three of them, so without lineage truncation the replay is
    ~2^rounds degree aggregations (measured 52 s at sf0.1; ~2 s with
    the checkpoints). Per-round exchanges carry nodes, never
    re-derived edges; no driver-side rows. Full decomposition runs the
    same loop to a fixed point with a convergence count per round
    (llm/components.py's loud-non-convergence pattern)."""
    edges = trade_edges(spark, sf_dir)
    alive = edges.select(F.col("src").alias("node")).distinct()
    d0 = edges.groupBy("src").agg(F.count("*").alias("deg"))
    kq = d0.selectExpr(
        f"CAST(percentile_disc({KCORE_Q}) WITHIN GROUP (ORDER BY deg)"
        " AS BIGINT) AS kk"
    )
    deg = None
    for rnd in range(KCORE_ROUNDS):
        a = alive.select(F.col("node").alias("sn"))
        b = alive.select(F.col("node").alias("dn"))
        deg = (
            edges.join(a, edges.src == F.col("sn"), "left_semi")
            .join(b, edges.dst == F.col("dn"), "left_semi")
            .groupBy("src")
            .agg(F.count("*").alias("degree"))
            .select(F.col("src").alias("node"), "degree")
            .crossJoin(F.broadcast(kq))
        )
        if rnd < KCORE_ROUNDS - 1:
            alive = park(
                deg.filter(F.col("degree") >= F.col("kk")).select("node"),
                spark,
                sf_dir,
            )
    # round-R survivors with their round-R degree — the filter IS the
    # survivor predicate, no join-back needed.
    return (
        deg.filter(F.col("degree") >= F.col("kk"))
        .select("node", F.col("degree").cast("long"))
        .orderBy("node")
    )


q_graph_kcore.__doc__ = (
    q_graph_kcore.__doc__.replace("{Q}", str(KCORE_Q))
    .replace("{R-1}", str(KCORE_ROUNDS - 1))
    .replace("{R}", str(KCORE_ROUNDS))
)


# ---------------------------------------------------------------------------
# Phrase search over a positional inverted index
# ---------------------------------------------------------------------------

PHRASE_TOP_DOCS = 25

@query(
    "q_search_phrase",
    oracle=f"""
WITH {_POSTINGS_SQL},
bg AS (
  SELECT p1.word AS w1, p2.word AS w2, p1.doc_id AS doc_id
  FROM post p1 JOIN post p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
),
top AS (
  SELECT w1, w2 FROM bg GROUP BY w1, w2
  ORDER BY count(*) DESC, w1, w2 LIMIT 1
)
SELECT bg.doc_id, bg.w1 AS word1, bg.w2 AS word2,
       CAST(count(*) AS BIGINT) AS occurrences
FROM bg JOIN top ON bg.w1 = top.w1 AND bg.w2 = top.w2
GROUP BY bg.doc_id, bg.w1, bg.w2
ORDER BY occurrences DESC, bg.doc_id
LIMIT {PHRASE_TOP_DOCS}
""",
)
def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query over a POSITIONAL inverted index: find the
    corpus's most frequent bigram (deterministic count-then-lex
    argmax), then rank documents by how often that exact adjacent
    word pair occurs — the consecutive-position topology behind
    every real phrase/proximity search, which the engine's
    bag-of-words retrieval (q_bm25/q_search_and) cannot express.

    Determinism: the phrase is an argmax with full lexicographic
    tiebreak; occurrences are exact integers; the final top-{N} orders
    by (occurrences DESC, doc_id).

    Scale shape: positional postings explode once; phrase adjacency is
    a self-equi-join on (doc_id, pos+1) — doc-keyed, co-partitioned
    after one exchange, output linear in the corpus's bigram
    instances; the 1-row phrase argmax broadcasts back (scalar, the
    components.py discipline); the per-doc count is a map-side-
    combinable aggregate over the already-doc-keyed instances. A
    production index would PERSIST the postings table; here it is
    built in-plan so the query is self-contained."""
    docs = load(spark, sf_dir, "documents")
    post = token_postings(docs)
    p1, p2 = post.alias("p1"), post.alias("p2")
    bg = p1.join(
        p2,
        (F.col("p1.doc_id") == F.col("p2.doc_id"))
        & (F.col("p2.pos") == F.col("p1.pos") + 1),
    ).select(
        F.col("p1.doc_id").alias("doc_id"),
        F.col("p1.word").alias("w1"),
        F.col("p2.word").alias("w2"),
    )
    # argmax as TakeOrdered (orderBy + limit 1 → per-partition top-1
    # heaps merged at the driver), never a no-partition-key window —
    # the bigram-type table grows with vocabulary², and a global
    # row_number would sort it on one partition (the q_rfm_segments
    # lesson from the round-6 verdict).
    top = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    return (
        bg.join(F.broadcast(top), ["w1", "w2"])
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("occurrences"))
        .select(
            "doc_id",
            F.col("w1").alias("word1"),
            F.col("w2").alias("word2"),
            "occurrences",
        )
        .orderBy(F.col("occurrences").desc(), "doc_id")
        .limit(PHRASE_TOP_DOCS)
    )


# ---------------------------------------------------------------------------
# Exact dedup over the opaque binary media column
# ---------------------------------------------------------------------------


HASHDUP_HEADER_BYTES = 64


@query(
    "q_multimodal_hashdup",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         md5(substr(text, 1, {HASHDUP_HEADER_BYTES})) AS header_md5,
         md5(text) AS full_md5,
         CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
  FROM documents
)
SELECT header_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT full_md5) AS BIGINT) AS n_distinct_payloads,
       CAST(min(doc_id) AS BIGINT) AS keep_doc,
       CAST(min(nbytes) AS BIGINT) AS min_bytes,
       CAST(max(nbytes) AS BIGINT) AS max_bytes
FROM h
GROUP BY header_md5
HAVING count(*) >= 2
ORDER BY header_md5
""",
)
def q_multimodal_hashdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5e: two-level exact-duplicate detection over the OPAQUE BINARY
    media column — the pass every multimodal pipeline runs before any
    decoding: group by a cheap HEADER fingerprint (md5 of the first
    {HB} payload bytes — file headers/magic prefixes collide long
    before full payloads do), and within each header family count how
    many distinct FULL payloads it actually holds (n_copies >
    n_distinct_payloads ⇒ byte-identical re-crawls to drop;
    n_distinct_payloads > 1 ⇒ shared boilerplate header, not a dup).
    Rides q_multimodal_join's media table (documents re-shaped with
    ``encode(text, 'utf-8')`` as the payload; the fixture's text is
    pure ASCII so the oracle's 64-CHAR substr slices the identical 64
    BYTES — a real corpus swaps the source table, not the plan).

    Scale shape: both hashes compute in the scan task; ONE
    hash-groupBy on the 16-byte header key with map-side partial
    aggregation (count-distinct of a second 16-byte hash per group —
    Catalyst plans the standard expand/two-phase); the exchange
    carries hashes and counts, never payload bytes; output is bounded
    by the family count. q_dedup_exact's topology where content
    equality can only be byte equality."""
    from kafka_to_parquet_spark.llm.multimodal import media_table

    media = media_table(spark, sf_dir)
    h = media.select(
        "doc_id",
        F.md5(F.expr(f"substring(media_bytes, 1, {HASHDUP_HEADER_BYTES})")).alias(
            "header_md5"
        ),
        F.md5(F.col("media_bytes")).alias("full_md5"),
        F.length(F.col("media_bytes")).cast("long").alias("nbytes"),
    )
    return (
        h.groupBy("header_md5")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("full_md5").cast("long").alias("n_distinct_payloads"),
            F.min("doc_id").cast("long").alias("keep_doc"),
            F.min("nbytes").alias("min_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("header_md5")
    )


q_multimodal_hashdup.__doc__ = q_multimodal_hashdup.__doc__.replace(
    "{HB}", str(HASHDUP_HEADER_BYTES)
)


# ---------------------------------------------------------------------------
# Per-source distinctive vocabulary (smoothed log-odds keyness)
# ---------------------------------------------------------------------------

KEYNESS_TOP = 5

@query(
    "q_keyness",
    oracle=f"""
WITH sw AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS a
  FROM (SELECT source, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY source, word
),
stot AS (SELECT source, CAST(sum(a) AS BIGINT) AS at FROM sw GROUP BY source),
wtot AS (SELECT word, CAST(sum(a) AS BIGINT) AS wt FROM sw GROUP BY word),
gtot AS (SELECT CAST(sum(a) AS BIGINT) AS nt FROM sw),
scored AS (
  SELECT sw.source, sw.word, sw.a,
         CAST(floor((ln((sw.a + 1.0) / (stot.at - sw.a + 1.0))
                     - ln((wtot.wt - sw.a + 1.0)
                          / (gtot.nt - stot.at - (wtot.wt - sw.a) + 1.0)))
                    * 1000000 + 0.5) AS BIGINT) AS keyness_mu
  FROM sw JOIN stot ON sw.source = stot.source
  JOIN wtot ON sw.word = wtot.word CROSS JOIN gtot
)
SELECT source, word, CAST(a AS BIGINT) AS tf, keyness_mu
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY keyness_mu DESC, word) AS rn
      FROM scored)
WHERE rn <= {KEYNESS_TOP}
ORDER BY source, keyness_mu DESC, word
""",
)
def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DISTINCTIVE vocabulary by add-one-smoothed log-odds
    ratio (corpus-linguistics "keyness"): for each (source, word),
    ln(odds of the word inside the source) − ln(odds outside), top
    {KEYNESS_TOP} words per source — the source-level diagnostic a
    mixing pipeline reads to see WHAT a source actually contributes
    (doc-level TF-IDF, q_tfidf_top_term, can't see across sources).

    Engine stability (the corpus_stats micro-nat discipline): both
    log arguments are ratios of EXACT integers (+1 smoothing keeps
    every term ≥ 1, so the logs are finite), evaluated on identical
    doubles in both engines and immediately fenced to integer
    micro-nats; the per-source ranking orders by the fenced integer
    with a word tiebreak.

    Scale shape: token instances collapse map-side into (source,
    word, tf) — one narrow exchange; source totals and word totals
    are two further aggregates of that table (source-sized and
    vocabulary-sized); the grand total broadcasts as one scalar; the
    top-k is a source-partitioned window over vocabulary-sized data.
    No token-instance shuffle anywhere."""
    docs = load(spark, sf_dir, "documents")
    sw = (
        docs.select(
            "source",
            F.explode(tokens_col(F.col("text"))).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("a"))
    )
    stot = sw.groupBy("source").agg(F.sum("a").alias("at"))
    wtot = sw.groupBy("word").agg(F.sum("a").alias("wt"))
    gtot = sw.agg(F.sum("a").alias("nt"))
    scored = (
        sw.join(stot, "source")
        .join(wtot, "word")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "word",
            "a",
            F.expr(
                "CAST(floor((ln((a + 1.0) / (at - a + 1.0))"
                " - ln((wt - a + 1.0) / (nt - at - (wt - a) + 1.0)))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("keyness_mu"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("keyness_mu").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KEYNESS_TOP)
        .select("source", "word", F.col("a").cast("long").alias("tf"), "keyness_mu")
        .orderBy("source", F.col("keyness_mu").desc(), "word")
    )


# ---------------------------------------------------------------------------
# b-bit MinHash estimator audit (b = 1)
# ---------------------------------------------------------------------------


def _bbit_oracle() -> str:
    from kafka_to_parquet_spark.llm.minhash import (
        MH_NUM_HASHES,
        _minhash_cand_cte,
    )

    agree = " + ".join(
        f"CASE WHEN sa.m{i} % 2 = sb.m{i} % 2 THEN 1 ELSE 0 END"
        for i in range(MH_NUM_HASHES)
    )
    scale = 10000 // MH_NUM_HASHES  # exact: K divides 10^4 at K=16
    return f"""
WITH {_minhash_cand_cte()},
pairs AS (
  SELECT cand.doc_a, cand.doc_b,
         CAST((2 * ({agree}) - {MH_NUM_HASHES}) * {scale} AS BIGINT) AS est_bp,
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


@query("q_minhash_bbit", oracle=_bbit_oracle())
def q_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash estimator audit (Li & König 2010, b = 1): keep
    only the LOWEST BIT of each of the K minima — 1/32nd of the
    signature storage — and estimate Jaccard from bit agreement via
    Ĵ = 2·A/K − 1 (for b=1, E[agree] = (1+J)/2 up to the 2⁻³¹ parity
    bias of the hash universe), audited against exact shingle Jaccard
    per decile on every banded candidate pair. The fourth leg of the
    MinHash audit set: est_err grades the full-width estimator; this
    grades what survives the compression a 100 TB signature store
    actually ships (σ grows ~2× at b=1 — the audit shows the decile
    cost of the 32× storage cut, turning the trade into numbers).

    Engine stability: bit agreement, the signed estimate (2A−K)·625,
    both basis-point ratios, the decile bucket, and the mean are pure
    BIGINT arithmetic over the shared deterministic hash family — the
    ×625 form exists precisely to avoid dividing a NEGATIVE estimate,
    where Spark's DIV (truncate) and DuckDB's // (floor) disagree.

    Shape: reuses the declared candidate pairs and the per-row
    signatures (llm/minhash.minhash_signatures — the q_minhash_est_err
    precedent), computed in-plan from the shingle cache; all joins are
    doc-keyed over the banding-bounded candidate set."""
    from kafka_to_parquet_spark.llm.dedup import shingled_documents
    from kafka_to_parquet_spark.llm.minhash import (
        MH_NUM_HASHES,
        minhash_candidates,
        minhash_signatures,
    )

    cand = minhash_candidates(spark, sf_dir)
    base = shingled_documents(spark, sf_dir)
    sig = minhash_signatures(base.select("doc_id", "sh"))
    agree = " + ".join(
        f"CASE WHEN sa.m{i} % 2 = sb.m{i} % 2 THEN 1 ELSE 0 END"
        for i in range(MH_NUM_HASHES)
    )
    scale = 10000 // MH_NUM_HASHES
    sh = base.select("doc_id", "sh")
    pairs = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .join(sh.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"))
        .join(sh.alias("hb"), F.col("doc_b") == F.col("hb.doc_id"))
        .select(
            F.expr(
                f"CAST((2 * ({agree}) - {MH_NUM_HASHES}) * {scale} AS BIGINT)"
            ).alias("est_bp"),
            F.expr(
                "CAST(size(array_intersect(ha.sh, hb.sh)) * 10000"
                " DIV (size(ha.sh) + size(hb.sh)"
                " - size(array_intersect(ha.sh, hb.sh))) AS BIGINT)"
            ).alias("exact_bp"),
        )
    )
    return (
        pairs.groupBy(
            F.expr("CAST(exact_bp DIV 1000 AS BIGINT)").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr(
                "CAST(sum(abs(est_bp - exact_bp)) DIV count(*) AS BIGINT)"
            ).alias("mean_abs_err_bp"),
            F.max(F.abs(F.col("est_bp") - F.col("exact_bp")))
            .cast("long")
            .alias("max_abs_err_bp"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (2 synchronous rounds)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2  # bounded prefix of the fixed-point loop — the
#                 q_bfs_levels / q_graph_kcore discipline that keeps
#                 the oracle a finite CTE chain; production runs the
#                 identical round body to convergence with
#                 llm/components.py's loud non-convergence guard.


def _lpa_oracle() -> str:
    return f"""WITH {TRADE_EDGES_CTES},
{lpa_sql(LPA_ROUNDS)}
SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS community
FROM l{LPA_ROUNDS}
"""


@query("q_graph_label_prop", oracle=_lpa_oracle())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) on the
    customer↔supplier trade graph (q_graph_pagerank's edge set),
    {R} fixed rounds: every node starts labeled with itself, then each
    round adopts the MOST FREQUENT label among its neighbors (ties →
    smallest label, a total order, so the sweep is deterministic —
    classic LPA breaks ties randomly and is irreproducible by
    construction). The community-DETECTION counterpart of
    llm/components.py's connected components: components give the
    reachability partition; LPA finds denser-than-neighborhood groups
    INSIDE a component, the corpus-curation primitive behind
    source-cluster discovery in dup graphs.

    Determinism: labels are node ids (integers), frequencies exact
    integer counts, and the per-node argmax a row_number with full
    (count DESC, label ASC) tiebreak. No floats anywhere.

    Scale shape, per round: edges ⋈ labels on src (edges persist
    pre-hashed on src ONCE — only the node-sized label relation
    exchanges per round, the q_graph_pagerank trick), then the
    neighbor-label frequency collapses map-side into (node, lab, c)
    before its exchange, and the argmax window partitions BY NODE —
    thousands of degree-bounded partitions, never a global sort. The
    symmetric construction guarantees indegree ≥ 1, so every node
    re-labels every round and no left-join back is needed."""
    labels = label_propagation(trade_edges(spark, sf_dir), LPA_ROUNDS)
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("lab").cast("long").alias("community"),
    )


q_graph_label_prop.__doc__ = q_graph_label_prop.__doc__.replace("{R}", str(LPA_ROUNDS))


# ---------------------------------------------------------------------------
# SAX motif discovery over hourly event series
# ---------------------------------------------------------------------------

SAX_ALPHABET = 4   # quartile letters a..d
SAX_MOTIF_LEN = 3  # motif length; lead chain + oracle derive from it
SAX_TOP = 3        # top motifs reported per series

# The oracle's motif concat, derived from SAX_MOTIF_LEN so the knob
# actually turns (the Spark lead chain and the test recompute use the
# same constant).
_SAX_MOTIF_SQL = " || ".join(
    ["letter"] + [f"lead(letter, {i}) OVER w" for i in range(1, SAX_MOTIF_LEN)]
)


@query(
    "q_ts_sax_motif",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
lettered AS (
  SELECT event_type, hr,
         CASE ntile({SAX_ALPHABET}) OVER (PARTITION BY event_type ORDER BY cents, hr)
           WHEN 1 THEN 'a' WHEN 2 THEN 'b' WHEN 3 THEN 'c' ELSE 'd' END AS letter
  FROM hourly
),
motifs AS (
  SELECT event_type,
         {_SAX_MOTIF_SQL} AS motif
  FROM lettered WINDOW w AS (PARTITION BY event_type ORDER BY hr)
),
counted AS (
  SELECT event_type, motif, CAST(count(*) AS BIGINT) AS n
  FROM motifs WHERE motif IS NOT NULL GROUP BY event_type, motif
)
SELECT event_type, motif, n FROM (
  SELECT event_type, motif, n,
         row_number() OVER (PARTITION BY event_type ORDER BY n DESC, motif) AS rn
  FROM counted)
WHERE rn <= {SAX_TOP}
ORDER BY event_type, n DESC, motif
""",
)
def q_ts_sax_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery (Lin et al. 2003, rank-based variant): each
    event type's hourly value series is discretized into {A} quartile
    letters and scanned for the most frequent length-{L} letter
    trigrams — the recurring-shape primitive behind time-series
    pattern mining that the point-statistics family (q_ts_autocorr,
    q_seasonal_strength) can't express.

    Two determinism substitutions versus textbook SAX, both
    cross-engine exact: (1) the per-hour value is an integer CENT sum
    (doubles summed in shuffle order are engine-unreproducible;
    fenced per-row cents are associative), and (2) the classic
    z-normalize + gaussian-breakpoint step becomes QUARTILE letters
    via ntile over a totally-ordered (cents, hr) ranking — rank-based
    SAX — trading the distributional assumption for integer-exact
    breakpoints (both engines implement SQL-standard ntile: equal
    groups, earlier groups take the remainder).

    Scale shape: the hourly rollup collapses map-side (exchange
    carries |types|·|hours| rows, calendar-bounded — the sanctioned
    bounded-window precondition); the ntile/lead windows partition by
    event_type over those calendar-bounded series; motif counting is
    a map-side-combinable aggregate; top-{T} per series is a window
    over the |types|·{A}^{L}-bounded motif table. At 100 TB the series
    key widens (type × region × day-grid), multiplying partitions,
    never single-partition sorts."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(
            F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("cents")
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("cents", "hr")
    q = F.ntile(SAX_ALPHABET).over(w_rank)
    lettered = hourly.select(
        "event_type",
        "hr",
        F.when(q == 1, "a").when(q == 2, "b").when(q == 3, "c").otherwise("d").alias("letter"),
    )
    w_seq = Window.partitionBy("event_type").orderBy("hr")
    motifs = lettered.select(
        "event_type",
        F.concat(
            F.col("letter"),
            *[F.lead("letter", i).over(w_seq) for i in range(1, SAX_MOTIF_LEN)],
        ).alias("motif"),
    ).filter(F.col("motif").isNotNull())
    counted = motifs.groupBy("event_type", "motif").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_top = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "motif")
    return (
        counted.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= SAX_TOP)
        .select("event_type", "motif", "n")
        .orderBy("event_type", F.col("n").desc(), "motif")
    )


q_ts_sax_motif.__doc__ = (
    q_ts_sax_motif.__doc__.replace("{A}", str(SAX_ALPHABET))
    .replace("{L}", str(SAX_MOTIF_LEN))
    .replace("{T}", str(SAX_TOP))
)


# ---------------------------------------------------------------------------
# Tokenizer fertility per (lang, source)
# ---------------------------------------------------------------------------

# Both counts derive from functions/text.py's canonical tokenizers —
# interpolated, never re-typed, so the oracle can't drift from the
# Spark plan's BPE_PATTERN / tokens_col (the q_text_bpe_tokens
# discipline).
_FERT_WORDS_SQL = f"len({_TOKENS_SQL})"
_FERT_BPE_SQL = f"len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))"


@query(
    "q_token_fertility",
    oracle=f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nb) AS BIGINT) AS n_bpe,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(1000 * sum(nb) // NULLIF(sum(nw), 0) AS BIGINT) AS fertility_milli,
       CAST(1000 * sum(n_chars) // NULLIF(sum(nb), 0) AS BIGINT) AS chars_per_bpe_milli
FROM (SELECT lang, source, n_chars,
             {_FERT_WORDS_SQL} AS nw, {_FERT_BPE_SQL} AS nb
      FROM documents)
GROUP BY lang, source
ORDER BY lang, source
""",
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (lang, source): subword tokens
    per whitespace word (fertility) and characters per subword token,
    in integer milli-units — THE per-language tokenizer-efficiency
    metric a multilingual data pipeline reads before setting mixing
    weights (a high-fertility language consumes proportionally more
    of a fixed token budget per word of content; q_mix_token_budget
    spends the budget, this measures the exchange rate). Uses the
    engine's two canonical tokenizations — whitespace words
    (q_text_tokens) and BPE-ish pre-tokens (q_text_bpe_tokens) — so
    the ratio is consistent with every other token count the engine
    reports.

    Determinism: token counts are exact integers from identical RE2/
    Java-compatible regexes in both engines; the ratios are integer
    floor-divisions of positive sums (Spark DIV = DuckDB // on
    non-negatives) fenced to milli-units — no doubles anywhere.

    Scale shape: both token counts fold in the scan task (per-row
    regex, no explode — counting needs lengths, not token rows); ONE
    map-side-combinable groupBy on the low-cardinality (lang, source)
    key; the exchange carries |langs|·|sources| partial rows. One
    corpus pass, no token-instance shuffle, trivially AQE-coalesced."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens_col(F.col("text"))).alias("nw"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)).alias("nb"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("nb").cast("long").alias("n_bpe"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_bpe",
            "sum_chars",
            # NULLIF fences the zero-divisor case (a group with zero
            # words / zero BPE tokens): Spark DIV would yield NULL but
            # DuckDB // raises, so both sides NULLIF to stay comparable.
            F.expr(
                "CAST(1000 * n_bpe DIV NULLIF(n_words, 0) AS BIGINT)"
            ).alias("fertility_milli"),
            F.expr(
                "CAST(1000 * sum_chars DIV NULLIF(n_bpe, 0) AS BIGINT)"
            ).alias("chars_per_bpe_milli"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination (eval holdout vs train corpus)
# ---------------------------------------------------------------------------

DECON_EVAL_MOD = 10  # eval holdout = vec_id % 10 == 0 (the fixture's
#                      stand-in for a benchmark set; a real pipeline
#                      swaps in the eval table, not the plan)


def _decon_embed_oracle() -> str:
    from kafka_to_parquet_spark.functions.vectors import duck_dot
    from kafka_to_parquet_spark.llm.dedup import EMBED_NEAR_TAU, angular_kept_cte

    cos = f"({duck_dot('ea.embedding', 'eb.embedding')} / (ea.nrm * eb.nrm))"
    return f"""
WITH {angular_kept_cte()},
cand AS MATERIALIZED (
  SELECT DISTINCT x.vec_id AS eval_id, y.vec_id AS train_id
  FROM kept x JOIN kept y ON x.b = y.b AND x.k = y.k
  WHERE x.vec_id % {DECON_EVAL_MOD} = 0 AND y.vec_id % {DECON_EVAL_MOD} <> 0
),
nv AS MATERIALIZED (
  SELECT vec_id, embedding, sqrt({duck_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
hits AS (
  SELECT c.eval_id, CAST(count(*) AS BIGINT) AS n_hits,
         round(max({cos}), 6) AS max_cos
  FROM cand c
  JOIN nv ea ON ea.vec_id = c.eval_id
  JOIN nv eb ON eb.vec_id = c.train_id
  WHERE {cos} >= {EMBED_NEAR_TAU}
  GROUP BY c.eval_id
)
SELECT e.vec_id AS eval_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       h.max_cos,
       CASE WHEN h.eval_id IS NOT NULL THEN 'contaminated' ELSE 'clean' END AS status
FROM (SELECT vec_id FROM embeddings WHERE vec_id % {DECON_EVAL_MOD} = 0) e
LEFT JOIN hits h ON h.eval_id = e.vec_id
ORDER BY eval_id
"""


@query("q_decontaminate_embed", oracle=_decon_embed_oracle())
def q_decontaminate_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag every EVAL document whose
    embedding lies within cosine τ of any TRAIN document — the
    semantic leg of benchmark decontamination (q_decontaminate
    catches verbatim n-gram overlap; paraphrased leakage only shows
    up in embedding space). Eval holdout = vec_id % {M} == 0; output
    is one row PER EVAL DOC (hit count, max similarity, verdict), so
    the report is total over the eval set — silent-empty-result
    failure modes read as 'clean' rows, not missing rows.

    Shape: the SAME angular-LSH banding as q_dedup_embedding_lsh —
    reuses the persisted 32-bit signature table (angular_signatures)
    and the hot-bucket-capped band index, but the candidate join is
    ASYMMETRIC (eval side × train side on (band, value)), so the pair
    stream is |eval|-bounded, not corpus². Exact cosine re-verifies
    candidates (recall < 1 is the standard LSH trade; the oracle
    implements the identical banding so correctness is exact); the
    per-eval rollup is a map-side-combinable aggregate keyed on
    eval_id; the final left join back onto the eval slice preserves
    clean rows. At 100 TB the train side streams through the band
    join once — no index rebuild per eval batch, the
    q_dedup_incremental discipline applied to embeddings."""
    from kafka_to_parquet_spark.functions.vectors import dot_expr, norm_expr
    from kafka_to_parquet_spark.llm.dedup import (
        EMBED_NEAR_TAU,
        angular_banded,
    )

    e = load(spark, sf_dir, "embeddings")
    kept = angular_banded(spark, sf_dir)
    ev = kept.filter(F.col("vec_id") % DECON_EVAL_MOD == 0).alias("x")
    tr = kept.filter(F.col("vec_id") % DECON_EVAL_MOD != 0).alias("y")
    cand = (
        ev.join(tr, (F.col("x.b") == F.col("y.b")) & (F.col("x.k") == F.col("y.k")))
        .select(
            F.col("x.vec_id").alias("eval_id"), F.col("y.vec_id").alias("train_id")
        )
        .distinct()
    )
    en = e.select("vec_id", "embedding", F.expr(norm_expr("embedding")).alias("nrm"))
    cos = F.expr(dot_expr("ea.embedding", "eb.embedding")) / (
        F.col("ea.nrm") * F.col("eb.nrm")
    )
    hits = (
        cand.join(en.alias("ea"), F.col("eval_id") == F.col("ea.vec_id"))
        .join(en.alias("eb"), F.col("train_id") == F.col("eb.vec_id"))
        .select("eval_id", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= EMBED_NEAR_TAU)
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.round(F.max("cos_raw"), 6).alias("max_cos"),
        )
    )
    eval_ids = e.filter(F.col("vec_id") % DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eval_id")
    )
    return (
        eval_ids.join(hits.alias("h"), "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            "max_cos",
            F.when(F.col("n_hits").isNotNull(), "contaminated")
            .otherwise("clean")
            .alias("status"),
        )
        .orderBy("eval_id")
    )


q_decontaminate_embed.__doc__ = q_decontaminate_embed.__doc__.replace(
    "{M}", str(DECON_EVAL_MOD)
)


# ---------------------------------------------------------------------------
# Streaming windowed top-k (trending keys per tumbling window)
# ---------------------------------------------------------------------------

STREAM_TOPK_WIN_S = 600
STREAM_TOPK_K = 2


@query(
    "q_stream_topk",
    oracle=f"""
WITH wc AS (
  SELECT CAST(floor(epoch(ts) / {STREAM_TOPK_WIN_S}) * {STREAM_TOPK_WIN_S} AS BIGINT)
           AS win_start_s,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT win_start_s, event_type, n, CAST(rn AS INTEGER) AS rnk
FROM (SELECT win_start_s, event_type, n,
             row_number() OVER (PARTITION BY win_start_s
                                ORDER BY n DESC, event_type) AS rn
      FROM wc)
WHERE rn <= {STREAM_TOPK_K}
ORDER BY win_start_s, rnk
""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3c: windowed top-k — the top {K} event types per tumbling
    {W}-second window ("trending keys"), the standard streaming
    heavy-hitters report. Written in the batch-equivalent form of
    q_stream_tumbling (streaming/windows.py discipline: the same
    ``window()`` expression drops into a readStream plan unchanged);
    in deployment the watermarked windowed count is the stateful
    stage — state bounded by (open windows × key cardinality), closed
    by the watermark — and the per-window rank runs downstream on
    each CLOSED window (foreachBatch over the append-mode sink),
    where it touches only that window's ≤ |key| rows.

    Determinism: exact integer counts; the rank orders by (n DESC,
    event_type) — a total order; epoch-aligned window starts emitted
    as BIGINT seconds (the streaming/windows.py precision rule).

    Scale shape: ONE map-side-combinable aggregate whose exchange
    carries (window, key) partials; the rank window partitions BY
    WINDOW START — parallelism grows with the calendar, partition
    size is bounded by key cardinality, and no global sort exists
    (the q_rfm_segments lesson applied to the streaming family).
    Output is calendar-bounded: windows × {K} rows at any corpus
    size."""
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", f"{STREAM_TOPK_WIN_S} seconds")
    wc = (
        ev.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "n",
        )
    )
    w = Window.partitionBy("win_start_s").orderBy(F.col("n").desc(), "event_type")
    return (
        wc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STREAM_TOPK_K)
        .select("win_start_s", "event_type", "n", F.col("rn").cast("int").alias("rnk"))
        .orderBy("win_start_s", "rnk")
    )


q_stream_topk.__doc__ = (
    q_stream_topk.__doc__.replace("{K}", str(STREAM_TOPK_K))
    .replace("{W}", str(STREAM_TOPK_WIN_S))
)
