"""LLM-pipeline operator invariants: dedup family, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_to_parquet_spark.tables import load


def test_exact_dedup_partitions_corpus(spark, sf_dir, run):
    """Keepers are unique; copies counted sum to |documents|."""
    d = load(spark, sf_dir, "documents")
    dd = run("q_dedup_exact").cache()
    assert dd.select("keeper").distinct().count() == dd.count()
    assert dd.agg(F.sum("n_copies")).collect()[0][0] == d.count()


def test_simhash_is_32_bit(run):
    rows = run("q_dedup_simhash").collect()
    assert rows
    for r in rows:
        assert 0 <= r["simhash"] < (1 << 32)


def test_simhash_identical_texts_collide(spark, sf_dir, run):
    """Exact duplicate texts must get identical fingerprints."""
    d = load(spark, sf_dir, "documents")
    sh = run("q_dedup_simhash")
    joined = d.select("doc_id", "text").join(sh, "doc_id")
    per_text = joined.groupBy("text").agg(
        F.countDistinct("simhash").alias("n_fp"), F.count("*").alias("n")
    )
    dupes = per_text.filter(F.col("n") > 1)
    if dupes.count():
        assert dupes.filter(F.col("n_fp") > 1).count() == 0


def test_minhash_pairs_are_valid(run):
    """LSH candidate pairs: ordered ids, distance within threshold."""
    rows = run("q_dedup_minhash_lsh").collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.0 <= r["jaccard_dist"] < 0.5


def test_minhash_finds_exact_duplicates(spark, sf_dir, run):
    """Every exact-duplicate pair (identical text, ≥3 tokens) has
    Jaccard distance 0 and MUST survive every LSH band — recall=1 on
    exact dupes is guaranteed, not probabilistic."""
    d = load(spark, sf_dir, "documents")
    a, b = d.alias("a"), d.alias("b")
    exact_pairs = (
        a.join(b, (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(F.size(F.split(F.col("a.text"), r"\s+")) >= 3)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    found = run("q_dedup_minhash_lsh").select("doc_a", "doc_b")
    missing = exact_pairs.exceptAll(found).count()
    assert missing == 0


def test_sim_topk_shape_and_order(run):
    """k results per query vector, cosine in [-1,1], descending."""
    rows = run("q_sim_topk").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) == len({x["rank"] for x in rs})
        rs = sorted(rs, key=lambda x: x["rank"])
        coss = [x["cos"] for x in rs]
        assert all(-1.0 - 1e-9 <= c <= 1.0 + 1e-9 for c in coss)
        assert coss == sorted(coss, reverse=True)


def test_sim_ivf_agrees_with_brute_force_mostly(spark, run):
    """IVF probes a subset of centroids; its top-1 per query should
    match brute force for most queries (recall@1 sanity floor)."""
    bf = {(r["q_id"], r["rank"]): r["c_id"] for r in run("q_sim_topk").collect()}
    ivf = {(r["q_id"], r["rank"]): r["c_id"] for r in run("q_sim_ivf").collect()}
    top1_q = {q for (q, rank) in bf if rank == 1}
    hits = sum(1 for q in top1_q if ivf.get((q, 1)) == bf[(q, 1)])
    assert hits / max(len(top1_q), 1) >= 0.5


def test_text_tokens_counts(spark, sf_dir, run):
    """Token explode+count: Σ word counts == Σ doc token counts."""
    total_from_counts = run("q_text_tokens").agg(F.sum("n")).collect()[0][0]
    assert total_from_counts > 0


def test_langid_labels_subset(run):
    rows = run("q_text_langid").collect()
    assert rows
    assert {r["lang_pred"] for r in rows} <= {"en", "de", "fr", "es", "und"}


def test_quality_scores_bounded(run):
    for r in run("q_text_quality").collect():
        assert 0.0 <= r["quality_score"] <= 1.0


def test_bpe_tokens_superset_of_whitespace(spark, sf_dir, run):
    """BPE-ish segmentation splits punctuation off words, so the
    subword count is >= the whitespace token count for every doc."""
    from kafka_to_parquet_spark.functions.text import tokens_col

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("n_ws")
    )
    joined = run("q_text_bpe_tokens").join(d, "doc_id")
    assert joined.filter(F.col("n_bpe") < F.col("n_ws")).count() == 0


def test_stratified_sample_fraction(spark, sf_dir, run):
    """Each stratum keeps exactly ceil(0.1 * n) docs."""
    import math

    d = load(spark, sf_dir, "documents")
    totals = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}
    sampled = {
        r["lang"]: r["count"] for r in run("q_sample_stratified").groupBy("lang").count().collect()
    }
    for lang, n in totals.items():
        assert sampled.get(lang, 0) == math.ceil(0.1 * n), lang


def test_components_are_consistent(spark, sf_dir, run):
    """Component labels: every doc labeled once, label ≤ doc_id (min
    propagation), both endpoints of every near-dup edge share a label,
    and each component's label is a member of the component."""
    labels = run("q_dedup_components").cache()
    d = load(spark, sf_dir, "documents")
    assert labels.count() == d.count()
    assert labels.filter(F.col("component") > F.col("doc_id")).count() == 0
    edges = run("q_dedup_simhash_pairs").select("doc_a", "doc_b")
    la = labels.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("component", "ca")
    lb = labels.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("component", "cb")
    mismatched = edges.join(la, "doc_a").join(lb, "doc_b").filter(F.col("ca") != F.col("cb"))
    assert mismatched.count() == 0
    roots = labels.select(F.col("component").alias("doc_id")).distinct()
    assert roots.join(labels, "doc_id", "left_anti").count() == 0


def test_dedup_keep_partitions_corpus(spark, sf_dir, run):
    """The kept corpus has exactly one representative per component
    (the component's own label), and the group sizes account for every
    document exactly once."""
    labels = run("q_dedup_components").cache()
    kept = run("q_dedup_keep").cache()
    n_components = labels.select("component").distinct().count()
    assert kept.count() == n_components
    # Representatives are their own label.
    assert kept.join(
        labels.filter(F.col("doc_id") != F.col("component")), "doc_id", "inner"
    ).count() == 0
    total = kept.agg(F.sum("group_size")).collect()[0][0]
    assert total == load(spark, sf_dir, "documents").count()


def test_multimodal_plumbing(run):
    """Binary payload column + typed metadata survive the pipeline;
    stubbed decode emits deterministic features with stable schema."""
    df = run("q_multimodal_decode")
    rows = df.collect()
    assert rows
    assert {"doc_id", "width", "height", "mean16"} <= set(df.columns)


# ---------------------------------------------------------------------------
# Hot-bucket caps: adversarial corpora must not explode candidate pairs.


def _write_docs(spark, tmpdir, rows):
    """Write a synthetic documents.parquet usable as an sf_dir."""
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    return tmpdir


def test_hot_shingle_postings_are_pruned(spark, tmp_path):
    """A boilerplate shingle shared by 100 docs (df > MAX_SHINGLE_DF)
    is dropped from the posting lists, so the posting-list self-join
    never sees its quadratic bucket; a genuine near-dup pair whose
    shingles stay under the cap still comes out with its pruned-universe
    jaccard."""
    from kafka_to_parquet_spark.llm.dedup import (
        MAX_SHINGLE_DF,
        pruned_postings,
        q_dedup_ngram_jaccard,
    )

    boiler = "all rights reserved worldwide"  # 4 tokens -> 2 shared 3-gram shingles
    rows = [
        (i, "en", "web", f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(100)
    ]
    # Planted near-dup pair: long shared tail, one differing word.
    rows.append((200, "en", "web", "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((201, "en", "web", "alpha beta gamma delta epsilon zeta eta iota"))
    sf = _write_docs(spark, str(tmp_path), rows)

    post = pruned_postings(spark, sf)
    max_df = (
        post.groupBy("lang", "source", "s").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_df <= MAX_SHINGLE_DF

    pairs = q_dedup_ngram_jaccard(spark, sf).collect()
    # The boilerplate-only overlaps are pruned away entirely: the only
    # surviving near-dup pair is the planted one.
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(200, 201)]
    # 8 tokens -> 6 shingles each, 5 shared: jaccard = 5 / 7, floor-rounded to 6dp
    assert abs(pairs[0]["jaccard"] - 0.714286) < 1e-9


def test_dup_heavy_corpus_caps_simhash_buckets(spark, tmp_path):
    """400 byte-identical docs collapse into one band bucket per band;
    the sub-split can't separate identical signatures, so the bucket is
    dropped (cap) instead of generating 400*399/2 pairs. Distinct docs
    elsewhere in the corpus are unaffected."""
    from kafka_to_parquet_spark.llm.dedup import q_dedup_simhash_pairs

    rows = [(i, "en", "web", "the same exact boilerplate document text") for i in range(400)]
    rows += [
        (1000, "en", "web", "completely different words about completely different topics"),
        (1001, "en", "web", "completely different words about completely different things"),
    ]
    sf = _write_docs(spark, str(tmp_path), rows)
    pairs = q_dedup_simhash_pairs(spark, sf).collect()
    dup_ids = set(range(400))
    # No pair with both ends inside the dropped hot bucket.
    assert not any(r["doc_a"] in dup_ids and r["doc_b"] in dup_ids for r in pairs)
    # Candidate volume stays bounded: far below the 79 800 uncapped pairs.
    assert len(pairs) < 100


def test_dup_heavy_corpus_caps_embedding_buckets(spark, tmp_path):
    """400 identical embeddings share an angular signature; the hot
    band buckets are capped, so no quadratic pair set materializes."""
    from kafka_to_parquet_spark.llm.dedup import EMBED_DIM, q_dedup_embedding_lsh

    base = [float((j % 7) - 3) for j in range(EMBED_DIM)]
    other = [float(((j * 3) % 11) - 5) for j in range(EMBED_DIM)]
    rows = [(i, "a", base) for i in range(400)] + [(1000, "b", other), (1001, "b", other)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    pairs = q_dedup_embedding_lsh(spark, str(tmp_path)).collect()
    dup_ids = set(range(400))
    assert not any(r["vec_a"] in dup_ids and r["vec_b"] in dup_ids for r in pairs)
    assert len(pairs) < 100


def test_embedding_dim_guard_raises(spark, tmp_path):
    """A wrong-width embedding must fail loudly, not null-pad into an
    empty candidate set (silent cross-engine divergence)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from kafka_to_parquet_spark.llm.dedup import q_dedup_embedding_lsh

    rows = [(1, "a", [1.0, 2.0, 3.0]), (2, "a", [1.0, 2.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    with pytest.raises(Exception) as ei:
        q_dedup_embedding_lsh(spark, str(tmp_path)).collect()
    assert "EMBED_DIM" in str(ei.value)


def test_component_labels_delta_frontier_long_chain(spark, sf_dir):
    """Round-15 delta-frontier guard: inject a 20-node chain as the
    near-dup edge set (diameter 19 — forces several rounds of frontier
    shrink/re-expansion plus pointer jumping) and require the exact
    min-reachable-label fixpoint. The shrinking-frontier form must
    converge to the same labels as all-edges propagation — a frontier
    bug (a changed node failing to re-message) would stall a chain at
    a non-minimal label."""
    from kafka_to_parquet_spark.cache import _STORE
    from kafka_to_parquet_spark.llm import components as C

    edge_key = (spark, sf_dir, "near_dup_edges")
    labels_key = (spark, sf_dir, "component_labels")
    _STORE.pop(edge_key, None)
    _STORE.pop(labels_key, None)
    chain = spark.createDataFrame(
        [(a, a + 1) for a in range(19)], "doc_a long, doc_b long"
    )
    edges = (
        chain.unionByName(
            chain.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(F.col("doc_a"))
        .localCheckpoint()
    )
    _STORE[edge_key] = (edges, False)
    try:
        labels = {
            r["doc_id"]: r["component"]
            for r in C.component_labels(spark, sf_dir).collect()
        }
    finally:
        _STORE.pop(edge_key, None)
        _STORE.pop(labels_key, None)
    assert all(labels[i] == 0 for i in range(20)), "chain must collapse to 0"
    others = {d: c for d, c in labels.items() if d >= 20}
    assert others and all(c == d for d, c in others.items()), (
        "non-chain docs must be singletons labeling themselves"
    )
