"""Invariant tests for the warehouse-maintenance family
(q_scd2_intervals, q_quality_checks, q_zorder_stats) and the
deterministic MinHash-LSH (q_dedup_minhash)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from kafka_to_parquet_spark.tables import load


# ----------------------------------------------------------- scd2


def test_scd2_intervals_tile_each_user_timeline(run):
    rows = run("q_scd2_intervals").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        # versions are contiguous from 1
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        # exactly one open (current) version, and it is the last
        assert [r.is_current for r in vs] == [0] * (len(vs) - 1) + [1]
        assert vs[-1].eff_to_es is None
        for a, b in zip(vs, vs[1:]):
            # intervals chain with no gap or overlap
            assert a.eff_to_es == b.eff_from_es
            assert a.eff_from_es < a.eff_to_es
            # consecutive versions really differ in the tracked attribute
            assert a.attr != b.attr


def test_scd2_change_count_matches_lag_scan(run, spark, sf_dir):
    # Mirror q_scd2_intervals' declared ordering exactly — second-
    # truncated (es, event_id), NOT raw ns-precision ts — so two
    # same-second events tie-break identically in both scans.
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("es", F.floor(F.unix_timestamp("ts")).cast("long"))
        .orderBy("user_id", "es", "event_id")
        .collect()
    )
    prev: dict[int, str] = {}
    n_changes = 0
    for r in ev:
        if prev.get(r.user_id) != r.event_type:
            n_changes += 1
        prev[r.user_id] = r.event_type
    assert len(run("q_scd2_intervals").collect()) == n_changes


# ----------------------------------------------------------- quality


def test_quality_checks_shape_and_sanity(run, spark, sf_dir):
    rows = {r.check_name: r for r in run("q_quality_checks").collect()}
    assert len(rows) == 8
    n_li = load(spark, sf_dir, "lineitem").count()
    n_od = load(spark, sf_dir, "orders").count()
    for r in rows.values():
        assert 0 <= r.n_violations <= r.n_checked
    assert rows["fk_lineitem_orderkey"].n_checked == n_li
    assert rows["pk_orders_orderkey_unique"].n_checked == n_od
    # the synthetic star schema is referentially intact and in-domain
    for name in (
        "fk_lineitem_orderkey",
        "fk_orders_custkey",
        "fk_lineitem_partkey",
        "dom_lineitem_discount_in_0_1",
        "pk_orders_orderkey_unique",
    ):
        assert rows[name].n_violations == 0, name


# ----------------------------------------------------------- zorder


def test_zorder_buckets_have_tight_bounding_boxes(run, spark, sf_dir):
    """The data-skipping claim itself: every z-bucket's min/max span on
    EACH dimension is ≈ 1/8 of that dimension's domain (file_id fixes
    the top 3 interleaved bits of both dimensions)."""
    rows = run("q_zorder_stats").collect()
    li = load(spark, sf_dir, "lineitem")
    n = li.count()
    g = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).first()
    dom_p = g[1] - g[0] + 1
    dom_s = g[3] - g[2] + 1
    assert sum(r.n_rows for r in rows) == n
    for r in rows:
        assert 0 <= r.file_id < 64
        # +1 covers the quantization cell boundary
        assert r.max_p - r.min_p <= dom_p / 8 + dom_p / 256 + 1
        assert r.max_s - r.min_s <= dom_s / 8 + dom_s / 256 + 1


# ----------------------------------------------------------- minhash


def test_minhash_pairs_are_ordered_and_bounded(run):
    rows = run("q_dedup_minhash").collect()
    assert rows, "fixture corpus contains near-dup pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 <= r.jaccard <= 1.0


def test_minhash_recalls_identical_shingle_sets(run, spark, sf_dir):
    """Two docs with identical shingle sets have identical signatures,
    hence share every band — they MUST be candidates (no cap bucket is
    hot in the fixture)."""
    from kafka_to_parquet_spark.llm.dedup import shingled_documents

    sh = {
        r.doc_id: frozenset(r.sh)
        for r in shingled_documents(spark, sf_dir).collect()
    }
    expected = set()
    by_set: dict[frozenset, int] = {}
    for doc_id in sorted(sh):
        s = sh[doc_id]
        if s in by_set:
            expected.add((by_set[s], doc_id))
        else:
            by_set[s] = doc_id
    got = {(r.doc_a, r.doc_b) for r in run("q_dedup_minhash").collect()}
    missing = {
        (a, b)
        for (a, b) in expected
        if not any(p in got for p in [(a, b)] + [(min(a, c), max(a, c)) for c in [b]])
    }
    assert expected <= got, f"identical-shingle pairs missed: {missing}"


def test_minhash_jaccard_matches_exact_set_jaccard(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.dedup import shingled_documents

    sh = {
        r.doc_id: set(r.sh) for r in shingled_documents(spark, sf_dir).collect()
    }
    for r in run("q_dedup_minhash").collect():
        a, b = sh[r.doc_a], sh[r.doc_b]
        exact = len(a & b) / len(a | b)
        assert abs(r.jaccard - exact) < 1e-6


# ----------------------------------------------------------- semdedup


def test_semdedup_partitions_corpus_and_prunes_correctly(run, spark, sf_dir):
    from kafka_to_parquet_spark.llm.clustering import SEMDEDUP_TAU

    rows = run("q_semdedup").collect()
    e = load(spark, sf_dir, "embeddings")
    assert len(rows) == e.count()
    # brute-force recompute: a vec is pruned iff a lower-id vec in the
    # same cluster has cosine >= tau
    import math

    emb = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cent_id].append(r.vec_id)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    status = {r.vec_id: r.status for r in rows}
    for cid, vids in by_cluster.items():
        vids.sort()
        for i, v in enumerate(vids):
            expect = any(
                cos(emb[u], emb[v]) >= SEMDEDUP_TAU for u in vids[:i]
            )
            assert status[v] == ("pruned" if expect else "kept"), v


# ----------------------------------------------------------- CMS


def test_cms_estimate_dominates_exact_count(run):
    rows = run("q_heavy_hitters_cms").collect()
    from kafka_to_parquet_spark.llm.corpus_stats import CMS_TOPK

    assert len(rows) == CMS_TOPK
    for r in rows:
        assert r.cms_est >= r.exact_cnt  # CMS never underestimates


def test_cms_error_within_sketch_bound(run, spark, sf_dir):
    """Deterministic CMS bound: per row j the estimate's excess is at
    most the total mass hashed into the same cell; summed over the
    whole stream, excess ≤ N/w on average — assert a generous 8·N/w."""
    from kafka_to_parquet_spark.functions.text import tokens_col
    from kafka_to_parquet_spark.llm.corpus_stats import CMS_W

    n_tokens = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .count()
    )
    for r in run("q_heavy_hitters_cms").collect():
        assert r.cms_est - r.exact_cnt <= 8 * n_tokens / CMS_W


# ----------------------------------------------------------- prefix join


def test_prefix_filter_is_lossless(run, spark, sf_dir):
    """Brute-force ground truth: the prefix-filtered join must return
    EXACTLY the pairs with hashed-shingle Jaccard >= tau (the lemma
    says the candidate set is a superset; verification trims it to
    equality). Sets are 31-bit md5 shingle hashes — the query's
    declared universe."""
    import hashlib

    from kafka_to_parquet_spark.llm.dedup import shingled_documents
    from kafka_to_parquet_spark.llm.minhash import MH_P, PREFIX_TAU

    def h31(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MH_P

    sh = {
        r.doc_id: {h31(s) for s in r.sh}
        for r in shingled_documents(spark, sf_dir).collect()
        if r.sh
    }
    ids = sorted(sh)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= PREFIX_TAU:
                expected.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in run("q_dedup_jaccard_prefix").collect()}
    assert got == expected


# ----------------------------------------------------------- checksum


def test_checksum_is_order_insensitive_and_reproducible(run, spark, sf_dir):
    """Python recompute of one group's checksum from raw rows (any
    iteration order) must match the distributed aggregate."""
    import hashlib

    from kafka_to_parquet_spark.functions.hashes import H31_P

    got = {r.l_returnflag: (r.n_rows, r.checksum) for r in run("q_table_checksum").collect()}
    li = load(spark, sf_dir, "lineitem").collect()
    by_flag: dict[str, list] = defaultdict(list)
    for r in li:
        by_flag[r.l_returnflag].append(r)
    for flag, rows in by_flag.items():
        total = 0
        for r in rows:
            s = "|".join(
                [
                    str(r.l_orderkey),
                    str(r.l_linenumber),
                    r.l_returnflag,
                    r.l_linestatus,
                    str(int(round(r.l_extendedprice * 100))),
                    str(int(round(r.l_quantity))),
                ]
            )
            total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert got[flag] == (len(rows), total % H31_P), flag


def test_checksum_detects_single_row_change(run, spark, sf_dir):
    """Flipping one row's quantity changes that group's checksum —
    the fingerprint is sensitive, not just order-insensitive."""
    from kafka_to_parquet_spark.functions.hashes import H31_P, spark_md5_int
    from kafka_to_parquet_spark.operators.warehouse import _CK_ROW

    li = load(spark, sf_dir, "lineitem")
    base = run("q_table_checksum").collect()
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture
    # — pick a pair that provably identifies exactly one row
    uniq = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"), F.first("l_returnflag").alias("flag"))
        .filter(F.col("c") == 1)
        .orderBy("l_orderkey", "l_linenumber")
        .first()
    )
    mutated = li.withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") == uniq.l_orderkey)
            & (F.col("l_linenumber") == uniq.l_linenumber),
            F.col("l_quantity") + 1,
        ).otherwise(F.col("l_quantity")),
    )
    rh = F.expr(spark_md5_int(_CK_ROW, 15)).cast("decimal(38,0)")
    mut = (
        mutated.select("l_returnflag", rh.alias("rh"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), (F.sum("rh") % H31_P).cast("long").alias("checksum"))
        .collect()
    )
    flag0 = uniq.flag
    base_map = {r.l_returnflag: r.checksum for r in base}
    mut_map = {r.l_returnflag: r.checksum for r in mut}
    assert base_map[flag0] != mut_map[flag0]
    for f in base_map:
        if f != flag0:
            assert base_map[f] == mut_map[f]


# ----------------------------------------------------------- approx quantile


def test_approx_quantile_rank_error_bounded(run, spark, sf_dir):
    rows = run("q_agg_approx_quantile").collect()
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice").collect()
    by_flag = defaultdict(list)
    for r in li:
        by_flag[r.l_returnflag].append(r.l_extendedprice)
    for r in rows:
        vals = sorted(by_flag[r.l_returnflag])
        n = len(vals)
        assert r.n_rows == n
        for target, approx in ((0.5, r.p50_approx), (0.9, r.p90_approx)):
            # rank of the returned value must be within eps*n of target
            import bisect

            lo = bisect.bisect_left(vals, approx)
            hi = bisect.bisect_right(vals, approx)
            target_rank = target * n
            eps = n / 10000 + 1  # accuracy=10000 → eps=1e-4 (+1 slack)
            assert lo - eps <= target_rank <= hi + eps


# ----------------------------------------------------------- snapshot diff


def test_snapshot_diff_classes_match_slice_definition(run, spark, sf_dir):
    from kafka_to_parquet_spark.operators.warehouse import SD_ADD, SD_DEL, SD_MOD

    rows = run("q_snapshot_diff").collect()
    od = {r.o_orderkey for r in load(spark, sf_dir, "orders").select("o_orderkey").collect()}
    expected = {
        k: ("added" if k % 10 == SD_ADD else "removed" if k % 10 == SD_DEL else "modified")
        for k in od
        if k % 10 in (SD_ADD, SD_DEL, SD_MOD)
    }
    got = {r.o_orderkey: r.change for r in rows}
    assert got == expected


# ----------------------------------------------------------- bucketed join


def test_bucketed_join_plan_has_no_exchange(spark, sf_dir):
    """The point of q_join_bucketed: both sides pre-shuffled at write
    time, so the SortMergeJoin must read bucket files directly — zero
    Exchange anywhere in the join subtree."""
    from kafka_to_parquet_spark.operators.warehouse import bucketed_tables

    t_ord, t_cus = bucketed_tables(spark, sf_dir)
    o, c = spark.table(t_ord), spark.table(t_cus)
    plan = (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2


def test_bucketed_join_values_match_unbucketed(run, spark, sf_dir):
    """Bucketing is a layout, not a semantic: the bucketed join must
    produce exactly the rows of the plain join."""
    rows = {r.c_mktsegment: (r.n_orders, r.revenue_c) for r in run("q_join_bucketed").collect()}
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    import pyspark.sql.functions as F

    plain = {
        r.c_mktsegment: (r.n, r.rc)
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rc"),
        )
        .collect()
    }
    assert rows == plain
