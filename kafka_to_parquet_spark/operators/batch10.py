"""Round-11 batch10: the training-pipeline audit gaps the round-10
verdict named (item 8) plus their natural companions — contamination
ATTRIBUTION (per-benchmark-item burn report and the n-gram-order
sensitivity ladder), intra-document repetition rate at paragraph
granularity, tokenizer throughput per BYTE (the tokens/byte exchange
rate q_token_fertility's per-word view doesn't give), the
duplication-mass curve across window widths (how SUBSTR_W-class
constants should be chosen), and the filter Venn (which curation
filters kill the same documents — the overlap matrix that decides
filter ORDER and marginal value).

Every query: oracle SQL from the same shared recipe strings, integer-
exact outputs (bp/milli units, floor division), built-ins only — no
Python UDFs anywhere.

Reference parity note: the reference (src/main.rs:59-294) is a
single-column Kafka→parquet ETL with no analytics; this module is
part of the mandated training-data extension tier (SURVEY §2 X-rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.functions.hashes import duck_h62, spark_h62
from kafka_to_parquet_spark.functions.text import (
    _TOKENS_SQL,
    tokens_col,
    word_ngrams,
    word_ngrams_sql,
)
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# ---------------------------------------------------------------------------
# Contamination attribution: which benchmark items are burned, how badly
# ---------------------------------------------------------------------------
# q_decontaminate answers "which corpus docs must I drop"; an eval
# owner asks the transpose: "which of MY benchmark items leaked into
# the corpus, and how much of each" — the report that decides whether
# an eval stays usable at all. Same DECON_N/BENCH_MOD fixture contract
# as llm/pipeline.py (every 23rd doc stands in for the eval suite).


def _attrib_oracle() -> str:
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD, DECON_N

    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({word_ngrams_sql('toks', DECON_N)})) AS s FROM t),
bg AS (SELECT doc_id AS bench_doc, s FROM g WHERE doc_id % {BENCH_MOD} = 0),
cg AS (SELECT doc_id, s FROM g WHERE doc_id % {BENCH_MOD} <> 0),
tot AS (SELECT bench_doc, CAST(count(*) AS BIGINT) AS n_grams
        FROM bg GROUP BY bench_doc),
hit AS (
  SELECT bg.bench_doc,
         CAST(count(DISTINCT cg.doc_id) AS BIGINT) AS n_docs_hit,
         CAST(count(DISTINCT bg.s) AS BIGINT) AS n_leaked_grams
  FROM bg JOIN cg USING (s) GROUP BY bg.bench_doc
)
SELECT t.bench_doc,
       t.n_grams,
       COALESCE(h.n_leaked_grams, 0) AS n_leaked_grams,
       COALESCE(h.n_docs_hit, 0) AS n_docs_hit,
       CAST(COALESCE(h.n_leaked_grams, 0) * 10000 // t.n_grams AS BIGINT)
         AS leak_bp
FROM tot t LEFT JOIN hit h USING (bench_doc)
ORDER BY bench_doc
"""


@query("q_contamination_attrib", oracle=_attrib_oracle())
def q_contamination_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-item contamination attribution: for every
    benchmark document, how many of its distinct {DECON_N}-grams
    appear in the (non-benchmark) corpus, in how many distinct corpus
    documents, and the leaked share in basis points — the transpose of
    q_decontaminate, read by the EVAL owner ("is this item burned?")
    rather than the corpus builder ("which docs do I drop?"). Items
    with leak_bp near 10000 are memorization-compromised even after
    the corpus-side drop (near-copies below the n-gram threshold).

    Scale shape: the benchmark side is small by construction (eval
    suites don't scale with the corpus) and is BROADCAST; the corpus
    side streams through the scan → per-row distinct-gram explode →
    broadcast hash join; only hit rows reach the (bench_doc)-keyed
    aggregate, whose partials are map-side combined. The corpus never
    shuffles. COUNT DISTINCTs are per-bench-doc, bounded by the
    item's gram count × corpus dup factor.

    Reference: extension tier (SURVEY §2 X-rows); Lee et al. 2022 /
    Brown et al. 2020 App. C decontamination methodology."""
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD, _bench_grams, _grams

    g = _grams(spark, sf_dir).select("doc_id", "s")
    bg = g.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc"), "s"
    )
    cg = g.filter(F.col("doc_id") % BENCH_MOD != 0)
    tot = bg.groupBy("bench_doc").agg(F.count("*").cast("long").alias("n_grams"))
    hit = (
        cg.join(F.broadcast(bg), "s")
        .groupBy("bench_doc")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_hit"),
            F.countDistinct("s").cast("long").alias("n_leaked_grams"),
        )
    )
    _ = _bench_grams  # shared-contract anchor (same fixture slice)
    return (
        tot.join(hit, "bench_doc", "left")
        .select(
            "bench_doc",
            "n_grams",
            F.coalesce("n_leaked_grams", F.lit(0)).cast("long").alias(
                "n_leaked_grams"
            ),
            F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
            F.expr(
                "CAST(COALESCE(n_leaked_grams, 0) * 10000 DIV n_grams AS BIGINT)"
            ).alias("leak_bp"),
        )
        .orderBy("bench_doc")
    )


# ---------------------------------------------------------------------------
# Contamination ladder: sensitivity of the contamination rate to n
# ---------------------------------------------------------------------------
# The methodology audit run BEFORE picking DECON_N: at small n chance
# collisions flag everything, at large n only verbatim passages
# survive — the knee locates the right threshold for the corpus's
# vocabulary (the reason pipeline.py pins 5 and real pipelines pin
# 8-13).

LADDER_NS = [3, 4, 5, 7]


def _ladder_oracle() -> str:
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD

    legs = []
    for n in LADDER_NS:
        legs.append(f"""
g{n} AS (SELECT doc_id, unnest(list_distinct({word_ngrams_sql('toks', n)})) AS s FROM t),
b{n} AS (SELECT DISTINCT s FROM g{n} WHERE doc_id % {BENCH_MOD} = 0),
h{n} AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
         CAST(count(DISTINCT s) AS BIGINT) AS n_shared_grams
  FROM g{n} JOIN b{n} USING (s) WHERE doc_id % {BENCH_MOD} <> 0
),
r{n} AS (
  SELECT {n} AS n, n_docs_hit, n_shared_grams,
         CAST(n_docs_hit * 10000 // (SELECT nc FROM corpus) AS BIGINT) AS hit_bp
  FROM h{n}
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{n}" for n in LADDER_NS)
    return (
        f"WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),\n"
        f"corpus AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM documents"
        f" WHERE doc_id % {BENCH_MOD} <> 0),"
        + ",".join(legs)
        + f"\nSELECT CAST(n AS BIGINT) AS n, n_docs_hit, n_shared_grams, hit_bp"
          f" FROM ({union})\nORDER BY n"
    )


@query("q_contamination_ladder", oracle=_ladder_oracle())
def q_contamination_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination rate as a function of n-gram order (n ∈
    {LADDER_NS}): contaminated-doc count, distinct shared grams, and
    the hit rate in bp of the non-benchmark corpus — the sensitivity
    sweep that justifies a decontamination threshold instead of
    assuming one. On this corpus the 3-gram leg collides by chance on
    most documents while the 7-gram leg only fires on genuine shared
    passages; the knee between them is where DECON_N belongs.

    Scale shape: one leg per n, each the q_decontaminate topology —
    per-row distinct-gram explode, benchmark side distinct + BROADCAST,
    corpus side never shuffles, two-column scalar reduce per leg; the
    union is |LADDER_NS| rows. The legs share the tokenized scan via
    whole-stage codegen at worst (no materialization needed: each leg
    is one corpus pass fused in the scan).

    Reference: extension tier; the n-sweep is the calibration table in
    Lee et al. 2022 §4 / Gao et al. (Pile) decontamination notes."""
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD

    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    n_corpus = t.filter(F.col("doc_id") % BENCH_MOD != 0).agg(
        F.count("*").cast("long").alias("nc")
    )
    legs = []
    for n in LADDER_NS:
        g = t.select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({word_ngrams('toks', n)})")).alias("s"),
        )
        b = g.filter(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()
        h = (
            g.filter(F.col("doc_id") % BENCH_MOD != 0)
            .join(F.broadcast(b), "s")
            .agg(
                F.countDistinct("doc_id").cast("long").alias("n_docs_hit"),
                F.countDistinct("s").cast("long").alias("n_shared_grams"),
            )
        )
        legs.append(
            h.crossJoin(F.broadcast(n_corpus)).select(
                F.lit(n).cast("long").alias("n"),
                "n_docs_hit",
                "n_shared_grams",
                F.expr("CAST(n_docs_hit * 10000 DIV nc AS BIGINT)").alias(
                    "hit_bp"
                ),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("n")


q_contamination_ladder.__doc__ = q_contamination_ladder.__doc__.replace(
    "{LADDER_NS}", ", ".join(str(n) for n in LADDER_NS)
)


# ---------------------------------------------------------------------------
# Intra-document repetition rate at paragraph (chunk) granularity
# ---------------------------------------------------------------------------
# q_text_repetition scores token/bigram looping; the Gopher filter the
# round-10 verdict named is one level up — the share of a document's
# PARAGRAPHS that are repeats of an earlier one. The fixture text has
# no paragraph breaks, so the paragraph analog is the non-overlapping
# REP_W-token chunk (the same granularity q_chunk_docs ships to
# training).

REP_W = 10        # chunk width (tokens)
REP_FLAG_BP = 2000  # a doc with >= 20% repeated chunks is flagged


def _rep_oracle() -> str:
    chunk = f"array_to_string(toks[(rp_i-1)*{REP_W}+1 : rp_i*{REP_W}], ' ')"
    return f"""
WITH t AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents
),
c AS (
  SELECT doc_id, source,
         list_transform(range(1, CAST(len(toks) AS INTEGER) // {REP_W} + 1),
                        rp_i -> {chunk}) AS chunks
  FROM t WHERE len(toks) >= {REP_W}
),
per AS (
  SELECT doc_id, source,
         CAST(len(chunks) AS BIGINT) AS n_chunks,
         CAST(len(chunks) - len(list_distinct(chunks)) AS BIGINT) AS n_rep
  FROM c
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(n_rep) AS BIGINT) AS n_rep_chunks,
       CAST(sum(n_rep) * 10000 // sum(n_chunks) AS BIGINT) AS rep_bp,
       CAST(sum(CASE WHEN n_rep * 10000 >= n_chunks * {REP_FLAG_BP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN n_rep * 10000 >= n_chunks * {REP_FLAG_BP}
                     THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         AS flagged_bp
FROM per GROUP BY source
ORDER BY source
"""


@query("q_repetition_windows", oracle=_rep_oracle())
def q_repetition_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition rate at paragraph granularity, per
    source: the share of a document's non-overlapping {REP_W}-token
    chunks that repeat an earlier chunk OF THE SAME DOCUMENT
    (corpus-weighted rep_bp), plus how many documents cross the
    {REP_FLAG_BP} bp flag line — the Gopher duplicate-paragraph filter
    (Rae et al. 2021, Table A1) at the engine's chunk granularity.
    Complements q_text_repetition (token/bigram looping) one level up
    and the q_dedup_substring family (CROSS-document spans): this is
    the within-doc boilerplate signal.

    Scale shape: chunking and distinct-counting are per-row
    higher-order functions on the token array (no explode — the chunk
    list lives inside its row, peak row size bounded by document
    length); ONE map-side-combinable groupBy on the low-cardinality
    source key. Zero data-sized shuffles at any corpus size.

    Reference: extension tier (SURVEY §2 X4)."""
    chunk = f"concat_ws(' ', slice(toks, (rp_i - 1) * {REP_W} + 1, {REP_W}))"
    c = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= REP_W)
        .select(
            "doc_id",
            "source",
            F.expr(
                f"transform(sequence(1, size(toks) DIV {REP_W}),"
                f" rp_i -> {chunk})"
            ).alias("chunks"),
        )
    )
    per = c.select(
        "source",
        F.size("chunks").cast("long").alias("n_chunks"),
        (F.size("chunks") - F.size(F.array_distinct("chunks")))
        .cast("long")
        .alias("n_rep"),
    )
    flagged = F.when(
        F.col("n_rep") * 10000 >= F.col("n_chunks") * REP_FLAG_BP, 1
    ).otherwise(0)
    return (
        per.select("source", "n_chunks", "n_rep", flagged.alias("fl"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("n_rep").cast("long").alias("n_rep_chunks"),
            F.expr("CAST(sum(n_rep) * 10000 DIV sum(n_chunks) AS BIGINT)").alias(
                "rep_bp"
            ),
            F.sum("fl").cast("long").alias("n_flagged"),
            F.expr(
                "CAST(sum(fl) * 10000 DIV count(*) AS BIGINT)"
            ).alias("flagged_bp"),
        )
        .orderBy("source")
    )


q_repetition_windows.__doc__ = (
    q_repetition_windows.__doc__
    .replace("{REP_W}", str(REP_W))
    .replace("{REP_FLAG_BP}", str(REP_FLAG_BP))
)


# ---------------------------------------------------------------------------
# Tokenizer throughput per byte (the tokens/byte exchange rate)
# ---------------------------------------------------------------------------
# q_token_fertility prices tokens per WORD and chars per token; budget
# planning needs tokens per BYTE (storage and I/O are byte-denominated,
# and UTF-8 multibyte scripts diverge from char counts). Milli-units,
# floor division, same regex tokenizers as every other count.


def _fertility_bytes_oracle() -> str:
    from kafka_to_parquet_spark.functions.text import BPE_PATTERN

    nw = f"len({_TOKENS_SQL})"
    nb = f"len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))"
    return f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nbytes) AS BIGINT) AS n_bytes,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nb) AS BIGINT) AS n_bpe,
       CAST(1000000 * sum(nw) // NULLIF(sum(nbytes), 0) AS BIGINT)
         AS words_per_kb_milli,
       CAST(1000000 * sum(nb) // NULLIF(sum(nbytes), 0) AS BIGINT)
         AS bpe_per_kb_milli,
       CAST(1000 * sum(nbytes) // NULLIF(sum(nb), 0) AS BIGINT)
         AS bytes_per_bpe_milli
-- DuckDB strlen(VARCHAR) returns BYTES (octet_length binds BLOB only);
-- Spark's octet_length(string) is the same quantity.
FROM (SELECT lang, source, CAST(strlen(text) AS BIGINT) AS nbytes,
             {nw} AS nw, {nb} AS nb
      FROM documents)
GROUP BY lang, source
ORDER BY lang, source
"""


@query("q_fertility_bytes", oracle=_fertility_bytes_oracle())
def q_fertility_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer throughput per byte, by (lang, source): words and
    BPE-ish tokens per 1000 bytes (milli-units) and bytes per BPE
    token — the byte-denominated exchange rate a storage/IO budget
    uses, where q_token_fertility gives the per-word linguistic rate.
    Languages whose scripts are UTF-8 multibyte sink this rate without
    touching per-word fertility, which is exactly why both views
    exist in tokenizer audits (tokens/byte is the Kudugunta et al.
    MADLAD-style corpus-audit column).

    Scale shape: identical to q_token_fertility — per-row regex counts
    folded into the scan (no explode, no token-instance rows), one
    map-side-combinable groupBy on (lang, source), exchange carries
    |langs|·|sources| pre-reduced rows.

    Reference: extension tier (SURVEY §2 X4)."""
    from kafka_to_parquet_spark.functions.text import BPE_PATTERN

    d = load(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        "source",
        F.octet_length("text").cast("long").alias("nbytes"),
        F.size(tokens_col(F.col("text"))).alias("nw"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
        ).alias("nb"),
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nbytes").cast("long").alias("n_bytes"),
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("nb").cast("long").alias("n_bpe"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_bytes",
            "n_words",
            "n_bpe",
            F.expr(
                "CAST(1000000 * n_words DIV NULLIF(n_bytes, 0) AS BIGINT)"
            ).alias("words_per_kb_milli"),
            F.expr(
                "CAST(1000000 * n_bpe DIV NULLIF(n_bytes, 0) AS BIGINT)"
            ).alias("bpe_per_kb_milli"),
            F.expr(
                "CAST(1000 * n_bytes DIV NULLIF(n_bpe, 0) AS BIGINT)"
            ).alias("bytes_per_bpe_milli"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Duplication-mass curve across window widths
# ---------------------------------------------------------------------------
# The q_dedup_substring family fixes SUBSTR_W by fiat; this measures
# what that constant trades away: for each width w, how much of the
# corpus's window mass is cross-document duplicated. Wider windows →
# fewer, higher-precision dup hits; the curve's knee is where the
# span-strip threshold belongs (Lee et al. 2022 pick 50 BPE tokens the
# same way).

DW_WIDTHS = [5, 10, 20, 40]


def _dup_width_oracle() -> str:
    legs = []
    for w in DW_WIDTHS:
        wh = duck_h62(f"array_to_string(toks[dw_i:dw_i+{w - 1}], ' ')")
        legs.append(f"""
w{w} AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(toks) AS INTEGER) - {w} + 2),
                               dw_i -> {wh})) AS wh
  FROM t WHERE len(toks) >= {w}
),
g{w} AS (SELECT wh, count(*) AS c, count(DISTINCT doc_id) AS nd
         FROM w{w} GROUP BY wh),
r{w} AS (
  SELECT {w} AS w,
         CAST(sum(c) AS BIGINT) AS n_windows,
         CAST(count(*) AS BIGINT) AS n_fp,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp_dup,
         CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_windows,
         CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) * 10000 // sum(c)
              AS BIGINT) AS dup_mass_bp
  FROM g{w}
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{w}" for w in DW_WIDTHS)
    return (
        f"WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),"
        + ",".join(legs)
        + f"\nSELECT CAST(w AS BIGINT) AS w, n_windows, n_fp, n_fp_dup,"
          f" n_dup_windows, dup_mass_bp FROM ({union})\nORDER BY w"
    )


@query("q_dup_width_curve", oracle=_dup_width_oracle())
def q_dup_width_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplication mass as a function of window width
    (w ∈ {DW_WIDTHS}): total stride-1 windows, distinct fingerprints,
    duplicated fingerprints (≥2 distinct docs), and the share of
    window INSTANCES covered by duplicated fingerprints (bp) — the
    calibration curve for span-dedup width constants (SUBSTR_W): short
    windows saturate on chance phrase reuse, long windows only fire on
    verbatim passages, and the knee is the operating point.

    Scale shape: per width, explode to (doc, 62-bit fingerprint) longs
    — hashes, never window strings, across the exchange (the
    _window_hashes topology of llm/dedup.py) — one groupBy(wh) with
    map-side partials, then a scalar reduce; legs union to
    |DW_WIDTHS| rows. Linear in corpus tokens per leg, no pairwise
    stage anywhere.

    Round-15 change (guide §2.3 — the round-14 SCALING table flagged
    this query as the pair-corpus outlier, 8.5× on the second decade
    vs 2.8-4.9× for its siblings): the per-leg aggregate asked
    count_distinct(doc_id), which Catalyst plans as a TWO-PHASE
    distinct aggregate — two corpus-window-sized exchanges per leg,
    keyed (wh, doc_id) then (wh), the first of which cannot combine
    map-side (windows are mostly unique per doc). The test only ever
    needs nd >= 2, which is exactly min(doc_id) != max(doc_id) — the
    q_ngram_novelty identity — so each leg collapses to ONE
    (wh)-keyed exchange with ordinary map-side partials (plan: 24 →
    16 Exchange), leaving the four independent per-width legs alone
    (a single-scan struct-explode variant was measured 2× SLOWER at
    sf0.1 — per-row struct allocation beat the saved tokenizes — and
    was discarded, §1.1)."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    legs = []
    for w in DW_WIDTHS:
        win = (
            t.filter(F.size("toks") >= w)
            .select(
                "doc_id",
                F.explode(
                    F.expr(f"transform({word_ngrams('toks', w)}, g -> {spark_h62('g')})")
                ).alias("wh"),
            )
        )
        g = win.groupBy("wh").agg(
            F.count("*").alias("c"),
            F.min("doc_id").alias("dmin"),
            F.max("doc_id").alias("dmax"),
        )
        dup = F.col("dmin") != F.col("dmax")
        legs.append(
            g.agg(
                F.lit(w).cast("long").alias("w"),
                F.sum("c").cast("long").alias("n_windows"),
                F.count("*").cast("long").alias("n_fp"),
                F.sum(F.when(dup, 1).otherwise(0))
                .cast("long")
                .alias("n_fp_dup"),
                F.sum(F.when(dup, F.col("c")).otherwise(0))
                .cast("long")
                .alias("n_dup_windows"),
            ).select(
                "w",
                "n_windows",
                "n_fp",
                "n_fp_dup",
                "n_dup_windows",
                F.expr(
                    "CAST(n_dup_windows * 10000 DIV n_windows AS BIGINT)"
                ).alias("dup_mass_bp"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("w")


q_dup_width_curve.__doc__ = q_dup_width_curve.__doc__.replace(
    "{DW_WIDTHS}", ", ".join(str(w) for w in DW_WIDTHS)
)


# ---------------------------------------------------------------------------
# Filter Venn: which curation filters kill the same documents
# ---------------------------------------------------------------------------
# Quality, exact-dedup, and decontamination each drop documents; the
# 2³ overlap matrix prices each filter's MARGINAL value (a filter
# whose kills are a subset of another's is free to reorder or drop)
# and decides pipeline order (cheap filters that subsume expensive
# ones run first — the split-leakage ordering lesson, one level up).


def _venn_oracle() -> str:
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD, DECON_N
    from kafka_to_parquet_spark.operators.batch9 import _qe_flags_sql

    return f"""
WITH qf AS ({_qe_flags_sql(duck=True)}),
q AS (SELECT doc_id,
             CASE WHEN f_len + f_ttr + f_stop + f_digit > 0 THEN 1 ELSE 0 END
               AS f_quality
      FROM qf),
fp AS (SELECT doc_id, md5(text) AS h FROM documents),
keep AS (SELECT h, min(doc_id) AS keeper FROM fp GROUP BY h),
dd AS (SELECT fp.doc_id,
              CASE WHEN fp.doc_id <> k.keeper THEN 1 ELSE 0 END AS f_dedup
       FROM fp JOIN keep k USING (h)),
t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({word_ngrams_sql('toks', DECON_N)})) AS s FROM t),
bench AS (SELECT DISTINCT s FROM g WHERE doc_id % {BENCH_MOD} = 0),
conta AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
          WHERE g.doc_id % {BENCH_MOD} <> 0),
flags AS (
  SELECT d.doc_id, q.f_quality, dd.f_dedup,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_decon
  FROM documents d
  JOIN q USING (doc_id) JOIN dd USING (doc_id)
  LEFT JOIN conta c USING (doc_id)
)
SELECT f_quality, f_dedup, f_decon,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) * 10000 // (SELECT count(*) FROM documents) AS BIGINT)
         AS share_bp
FROM flags GROUP BY f_quality, f_dedup, f_decon
ORDER BY f_quality, f_dedup, f_decon
"""


@query("q_filter_venn", oracle=_venn_oracle())
def q_filter_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-filter Venn: every document flagged by three
    independent pipeline filters — quality (the q_quality_ensemble
    'any' rule), exact-dedup (non-keeper of an md5(text) group), and
    decontamination (shares a {DECON_N}-gram with the benchmark slice)
    — bucketed into the 2³ overlap cells with corpus shares in bp.
    The matrix prices each filter's MARGINAL kill mass: a cell like
    (quality=1, dedup=1) says those docs die either way, so filter
    order is a pure cost decision there; a large (0,0,1) cell says
    decontamination is load-bearing and cannot be subsumed. This is
    the measurement behind 'run exact dedup first' (SCALING.md's
    split-leakage pricing), generalized to the full filter set.

    Scale shape: quality flags are per-row maps in the scan; the dedup
    flag is one digest-keyed groupBy (32-byte md5 digests across the
    exchange, never bodies) + one join-back on the digest;
    decontamination is the broadcast-bench topology (corpus side never
    shuffles); the final aggregate is 8 cells via map-side partials.
    Three corpus passes fused to two shuffles (digest groupBy +
    digest join-back) at any scale.

    Reference: extension tier (SURVEY §2 X1/X4 composition)."""
    from kafka_to_parquet_spark.llm.pipeline import BENCH_MOD, _bench_grams, _grams
    from kafka_to_parquet_spark.operators.batch9 import _qe_flags_sql

    d = load(spark, sf_dir, "documents")
    qf = d.sparkSession.sql(
        _qe_flags_sql(duck=False).replace("FROM documents", "FROM {src}"),
        src=d,
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN f_len + f_ttr + f_stop + f_digit > 0 THEN 1 ELSE 0 END"
        ).alias("f_quality"),
    )
    fp = d.select("doc_id", F.md5("text").alias("h"))
    keep = fp.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    dd = fp.join(keep, "h").select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0).alias(
            "f_dedup"
        ),
    )
    g = _grams(spark, sf_dir).select("doc_id", "s")
    bench = _bench_grams(g)
    conta = (
        g.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("f_decon"))
    )
    n_total = d.agg(F.count("*").cast("long").alias("nt"))
    return (
        d.select("doc_id")
        .join(qf, "doc_id")
        .join(dd, "doc_id")
        .join(conta, "doc_id", "left")
        .select(
            "f_quality", "f_dedup", F.coalesce("f_decon", F.lit(0)).alias("f_decon")
        )
        .groupBy("f_quality", "f_dedup", "f_decon")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("f_quality").cast("int").alias("f_quality"),
            F.col("f_dedup").cast("int").alias("f_dedup"),
            F.col("f_decon").cast("int").alias("f_decon"),
            "n_docs",
            F.expr("CAST(n_docs * 10000 DIV nt AS BIGINT)").alias("share_bp"),
        )
        .orderBy("f_quality", "f_dedup", "f_decon")
    )


q_contamination_attrib.__doc__ = q_contamination_attrib.__doc__.replace(
    "{DECON_N}", "5"
)
q_filter_venn.__doc__ = q_filter_venn.__doc__.replace("{DECON_N}", "5")
