"""Invariant tests for the round-4 additions: ANN recall audit,
asymmetric containment dedup, token-distribution entropy."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from kafka_to_parquet_spark.tables import load


def test_ann_recall_bounds_and_coverage(run):
    from kafka_to_parquet_spark.llm.similarity import N_QUERIES, TOP_K

    rows = run("q_ann_recall").collect()
    assert len(rows) == N_QUERIES  # every query audited, even 0-recall ones
    for r in rows:
        assert 0 <= r.n_hit <= TOP_K
        assert r.recall_bp == r.n_hit * 10000 // TOP_K


def test_ann_recall_matches_set_intersection(run):
    brute = {
        (r.q_id, r.c_id) for r in run("q_sim_topk").collect()
    }
    ivf = {(r.q_id, r.c_id) for r in run("q_sim_ivf").collect()}
    got = {r.q_id: r.n_hit for r in run("q_ann_recall").collect()}
    want = Counter(q for (q, c) in brute & ivf)
    assert got == {q: want.get(q, 0) for q in got}


def test_containment_is_asymmetric_and_bounded(run):
    rows = run("q_dedup_containment").collect()
    assert rows, "fixture should contain near-subset pairs"
    for r in rows:
        assert r.doc_a != r.doc_b
        assert 0.8 <= r.containment <= 1.0
    # Asymmetry is possible: a short doc contained in a long one need
    # not contain it back. At minimum the pair set is ORDERED (the
    # reverse direction is a distinct row when it qualifies at all).
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    assert len(pairs) == len(rows)  # no duplicate ordered pairs


def test_containment_superset_of_high_jaccard_smaller_side(run, spark, sf_dir):
    """J(a,b) >= 0.8 implies C(small->large) >= 0.8 (inter/|small| >=
    inter/union = J), so every high-Jaccard pair's smaller side must
    appear in the containment output."""
    from kafka_to_parquet_spark.llm.minhash import _hashed_shingles

    sizes = {
        r.doc_id: r.n
        for r in _hashed_shingles(spark, sf_dir)
        .select("doc_id", F.size("hs").alias("n"))
        .collect()
    }
    jp = [
        r
        for r in run("q_dedup_jaccard_prefix").collect()
        if r.jaccard >= 0.8
    ]
    cont = {(r.doc_a, r.doc_b) for r in run("q_dedup_containment").collect()}
    for r in jp:
        small, large = sorted((r.doc_a, r.doc_b), key=lambda d: sizes[d])
        assert (small, large) in cont, (r.doc_a, r.doc_b, r.jaccard)


def test_weighted_sample_is_deterministic_and_weight_biased(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.pipeline import SAMPLE_K

    a = [(r.doc_id, r.rank) for r in run("q_sample_weighted").collect()]
    b = [(r.doc_id, r.rank) for r in run("q_sample_weighted").collect()]
    assert a == b  # reproducible draw, no rand()
    assert len(a) == SAMPLE_K
    ranks = sorted(r for (_, r) in a)
    assert ranks == list(range(1, SAMPLE_K + 1))  # dense 1..K
    # Inclusion probability ∝ n_chars: the sample must be char-heavier
    # than the corpus average.
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_ids = {d for (d, _) in a}
    sample_mean = (
        docs.filter(F.col("doc_id").isin(sample_ids))
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert sample_mean > corpus_mean


def test_weighted_sample_plan_is_take_ordered(run):
    from tests.test_plans import plan_of

    plan = plan_of(run("q_sample_weighted"))
    assert "TakeOrderedAndProject" in plan


def test_asof_nearest_picks_closer_side_and_covers_backward(run, spark, sf_dir):
    """Every purchase with any view must appear; the picked view is the
    true nearest by |delta| under the declared tie-breaks — checked by
    exact Python recompute over the fixture."""
    rows = {r.p_event: r for r in run("q_join_asof_nearest").collect()}
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
            "event_type",
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    n_expected = 0
    for user, rs in by_user.items():
        views = [r for r in rs if r.event_type == "view"]
        if not views:
            continue
        for p in rs:
            if p.event_type != "purchase":
                continue
            n_expected += 1
            back = [v for v in views if v.es <= p.es]
            fwd = [v for v in views if v.es > p.es]
            bc = max(back, key=lambda v: (v.es, v.event_id)) if back else None
            fc = min(fwd, key=lambda v: (v.es, v.event_id)) if fwd else None
            if bc is not None and (
                fc is None or p.es - bc.es <= fc.es - p.es
            ):
                want, delta = bc.event_id, bc.es - p.es
            else:
                want, delta = fc.event_id, fc.es - p.es
            got = rows[p.event_id]
            assert (got.view_event, got.delta_s) == (want, delta), p.event_id
    assert len(rows) == n_expected


def test_stream_upsert_state_is_batch_boundary_independent(run, spark, sf_dir):
    """The streaming store must equal the batch last-write-wins over
    the whole table, and re-running the stream (replay) must leave the
    state unchanged (idempotent merge)."""
    a = sorted(
        (r.user_id, r.last_es, r.last_event_id, r.last_type)
        for r in run("q_stream_upsert").collect()
    )
    b = sorted(
        (r.user_id, r.last_es, r.last_event_id, r.last_type)
        for r in run("q_stream_upsert").collect()
    )
    assert a == b
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_type",
    )
    want = sorted(
        (r.user_id, r.m.es, r.m.event_id, r.m.event_type)
        for r in ev.groupBy("user_id")
        .agg(F.max(F.struct("es", "event_id", "event_type")).alias("m"))
        .collect()
    )
    assert a == want


def test_lcg_bucket_survives_stride_structured_ids():
    """The shard/bucket id must come from the LCG's HIGH bits: a naive
    `lcg % n` keeps doc_id's low-bit structure (one affine step mod
    2^31 is still affine mod n), so upstream ids assigned as n·k+c
    would all collapse into ONE shard. Python mirror of
    _lcg_bucket_sql's integer arithmetic."""
    from kafka_to_parquet_spark.llm.pipeline import PACK_SHARDS, SHUFFLE_BUCKETS

    def bucket(doc_id: int, n: int) -> int:
        lcg = (doc_id * 1103515245 + 12345) % 2_147_483_648
        return lcg // (2_147_483_648 // n)

    for n in (PACK_SHARDS, SHUFFLE_BUCKETS):
        for stride, offset in ((n, 3), (2 * n, 0), (64, 7)):
            ids = [stride * k + offset for k in range(2000)]
            used = {bucket(i, n) for i in ids}
            # the naive low-bit form would give exactly ONE bucket here
            assert len(used) == n, (n, stride, offset, len(used))


def test_entropy_bounds_and_exact_recompute(run, spark, sf_dir):
    from kafka_to_parquet_spark.functions.text import tokens_col

    out = {r.doc_id: r for r in run("q_text_entropy").collect()}
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .collect()
    )
    assert len(out) == sum(1 for d in docs if d.toks)
    for d in docs[:50]:
        if not d.toks:
            continue
        r = out[d.doc_id]
        tf = Counter(d.toks)
        n = sum(tf.values())
        assert r.n_toks == n
        # mirror the micro-nat fencing exactly
        ent = -sum(
            c * math.floor(math.log(c / n) * 1_000_000 + 0.5) for c in tf.values()
        ) / (1_000_000.0 * n)
        assert abs(r.entropy - ent) < 1e-9
        assert -1e-9 <= r.entropy <= math.log(n) + 1e-6


def test_duck_dot_literal_bit_equal():
    """duck_dot_literal's unrolled sum must be bit-identical to the
    duck_dot sequential fold it replaces (same IEEE op order), on real
    embedding data and a ±1 hyperplane literal — the pair of shapes the
    angular-LSH oracle uses."""
    import duckdb

    from kafka_to_parquet_spark.functions.vectors import duck_dot, duck_dot_literal
    from kafka_to_parquet_spark.functions.hashes import hyperplane_signs
    from kafka_to_parquet_spark.llm.dedup import EMBED_DIM

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        " read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    signs = hyperplane_signs(7, EMBED_DIM)
    lit = "[" + ",".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
    fold = con.execute(
        f"SELECT vec_id, {duck_dot('embedding', lit)} AS d,"
        f" {duck_dot('embedding', 'embedding')} AS s"
        " FROM embeddings ORDER BY vec_id"
    ).fetchall()
    unrolled = con.execute(
        f"SELECT vec_id, {duck_dot_literal('embedding', signs)} AS d,"
        f" {duck_dot('embedding', 'embedding')} AS s"
        " FROM embeddings ORDER BY vec_id"
    ).fetchall()
    assert fold == unrolled
