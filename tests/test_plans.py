"""Physical-plan assertions — the 100 TB contract.

Correctness says what a query returns; these tests pin HOW: filters
reach the parquet scan, scans are column-pruned, small dims broadcast,
hot paths stay in whole-stage codegen (no row-at-a-time Python UDFs),
and nothing materializes on the driver.
"""

from __future__ import annotations

import pytest

from kafka_to_parquet_spark import registry


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_is_pushed_to_parquet_scan(run):
    plan = plan_of(run("q_filter_pred"))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    import re

    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and pushed.group(1).strip()


def test_agg_scan_is_column_pruned(run):
    """TPC-H-Q1 touches 7 of lineitem's 16 columns; the ReadSchema must
    not include untouched wide columns like l_comment."""
    plan = plan_of(run("q_agg_groupby"))
    assert "ReadSchema" in plan
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan


def test_broadcast_join_is_broadcast(run):
    plan = plan_of(run("q_join_broadcast"))
    assert "BroadcastHashJoin" in plan


def test_small_dim_join_autobroadcasts(run):
    """customer ⋈ nation ⋈ region: Catalyst/AQE should broadcast the
    tiny dims rather than shuffle both sides."""
    plan = plan_of(run("q_join_inner"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_uses_take_ordered(run):
    """orderBy+limit must compile to TakeOrderedAndProject — bounded
    memory at any scale — not a global sort."""
    plan = plan_of(run("q_topk"))
    assert "TakeOrderedAndProject" in plan


def test_no_python_udf_in_relational_and_text_paths(run):
    """Everything except the multimodal decode stub (explicitly a
    Pandas-UDF surface) must stay JVM-side: no BatchEvalPython
    (row-at-a-time UDF) anywhere, no ArrowEvalPython outside the
    multimodal/sink paths."""
    jvm_only = [
        "q_agg_groupby", "q_join_inner", "q_win_running", "q_sort",
        "q_dedup_exact", "q_dedup_simhash", "q_sim_topk", "q_sim_ivf",
        "q_text_tokens", "q_text_langid", "q_text_quality",
        "q_text_fingerprint", "q_stream_tumbling", "q_count_batcher",
    ]
    for name in jvm_only:
        plan = plan_of(run(name))
        assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} left the JVM"


def test_wholestage_codegen_active_on_flagship(run):
    """After execution the adaptive final plan must show codegen stages
    (the `*(n)` markers in simple-mode explain)."""
    df = run("q_agg_groupby")
    df.collect()  # executes the Dataset's own QueryExecution (AQE finalizes)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "isFinalPlan=true" in plan, plan
    assert "*(" in plan, plan


def test_no_cartesian_in_equi_joins(run):
    for name in ["q_join_inner", "q_join_outer", "q_join_semi_anti"]:
        plan = plan_of(run(name))
        assert "CartesianProduct" not in plan, f"{name} degraded to cartesian"


def test_q3_is_takeordered_with_broadcast_cust(run):
    """Q3 pattern: top-10 must be TakeOrderedAndProject (not a global
    sort) and the filtered customer dim must broadcast."""
    plan = plan_of(run("q_tpch_q3"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_single_big_shuffle(run):
    """Q5 joins 6 tables; every dim is broadcast so the only
    SortMergeJoin/shuffled join allowed is orders⋈lineitem."""
    plan = plan_of(run("q_tpch_q5"))
    n_smj = plan.count("SortMergeJoin")
    n_shj = plan.count("ShuffledHashJoin")
    assert n_smj + n_shj <= 1, f"{n_smj} SMJ + {n_shj} SHJ — dims not broadcast"
    assert plan.count("BroadcastHashJoin") >= 3


def test_q6_pushes_all_predicates(run):
    plan = plan_of(run("q_tpch_q6"))
    import re

    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed
    txt = pushed.group(1)
    assert "l_shipdate" in txt and "l_discount" in txt and "l_quantity" in txt


def test_asof_is_single_shuffle_window(run):
    """The as-of join must be the union+window formulation: exactly one
    hash exchange on user_id, no join operator at all."""
    import re

    plan = plan_of(run("q_join_asof"))
    assert "Join" not in plan, "asof degraded to a join"
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex == 1, f"{n_ex} exchanges"


def test_partition_pruning_prunes_directories(run, spark, sf_dir):
    """The date predicate must become PartitionFilters (directory
    pruning), and the pruned scan must read only the 2 selected days of
    the 30-day layout."""
    import re

    df = run("q_partition_pruning")
    plan = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    # layout sanity: the predicate selects 2 of the 30 day-directories
    import glob
    import os

    from kafka_to_parquet_spark.sources.partitioned import partitioned_events_path

    path = partitioned_events_path(spark, sf_dir)
    all_days = glob.glob(os.path.join(path, "event_date=*"))
    hit_days = [d for d in all_days if d.endswith(("2024-01-02", "2024-01-03"))]
    assert len(all_days) == 30 and len(hit_days) == 2


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located (bucketed) joins: both sides bucketed by the join key
    into the same bucket count join WITHOUT any Exchange — the physical
    property that makes repeated fact-fact joins affordable at 100 TB.
    (Declared queries can't assume a writable warehouse, so the
    capability is pinned here with a session-local warehouse.)"""
    import re
    import uuid

    from pyspark.sql import functions as F

    from kafka_to_parquet_spark.tables import load

    name_a = f"b_orders_{uuid.uuid4().hex[:8]}"
    name_b = f"b_cust_{uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable(name_a)
    load(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable(name_b)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        j = spark.table(name_a).join(
            spark.table(name_b),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = plan_of(j)
        n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_ex == 0, f"bucketed join still shuffles:\n{plan}"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")


def test_exchange_count_bounded_on_flagship(run):
    """TPC-H-Q1 needs exactly one shuffle (partial agg → exchange →
    final agg). More means a regression in the plan."""
    plan = plan_of(run("q_agg_groupby"))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"expected partial-agg plan, got {n_exchanges} exchanges"


def test_running_scalable_partitions_on_key_and_bucket(run):
    """The two-level prefix-sum running aggregate must (a) run its big
    window partitioned by (key, bucket) — not by key alone, which caps
    parallelism at the distinct-key count — and (b) bring the tiny
    offset table in via broadcast, never a shuffled join."""
    plan = plan_of(run("q_win_running_scalable"))
    assert "hashpartitioning(l_suppkey" in plan and "_bkt" in plan.split(
        "hashpartitioning(l_suppkey", 1
    )[1].split(")")[0], "big window not partitioned by (key, bucket)"
    assert "BroadcastHashJoin" in plan, "offset join is not broadcast"
    assert "SortMergeJoin" not in plan


def test_running_scalable_matches_single_window(run):
    """Bit-identical to the single-window running sum (integer-valued
    quantities make the decomposition exact, not approximate)."""
    base = (
        run("q_win_running")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    )
    scal = run("q_win_running_scalable")
    assert base.exceptAll(scal).count() == 0
    assert scal.exceptAll(base).count() == 0


def test_range_binned_has_no_nested_loop(run):
    """The binned big x big range join must be an equi join on the bin
    (hash/sort-merge/broadcast-HASH are all fine) with the interval
    predicate as a residual filter — never a nested-loop or cartesian
    physical join, which are O(points * intervals) at scale."""
    plan = plan_of(run("q_join_range_binned"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bin" in plan, "bin key missing from the physical plan"


def test_skew_salted_join_shuffles_on_key_and_salt(run):
    """The salted join must shuffle on (join key, salt) — the salt
    reaching the exchange is the whole point — and must not broadcast
    (at real scale the dim is too big; the fixture would otherwise
    auto-broadcast and hide the pattern)."""
    plan = plan_of(run("q_join_skew_salted"))
    import re

    ex = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert ex and "_salt" in ex.group(1), "salt not in the join exchange keys"
    assert "BroadcastHashJoin" not in plan


# ------------------------------------------------- round-3 late additions


def test_minhash_candidates_one_bucket_exchange(run, spark, sf_dir):
    """Candidate generation is ONE exchange on (band, key), shared by
    the bucket-count window and the id grouping, and no join on
    (band, key): pairs come from inside each capped bucket, never from
    a band self-join or a nested-loop pair scan."""
    import re

    from kafka_to_parquet_spark.llm.minhash import minhash_candidates

    bk = r"hashpartitioning\(b#\d+, k#\d+L?, \d+\)"
    join_on_b = r"(Left|Right) keys \[\d+\]: \[b#"
    cand = plan_of(minhash_candidates(spark, sf_dir))
    assert len(re.findall(bk, cand)) == 1
    assert "Join" not in cand
    plan = plan_of(run("q_dedup_minhash"))
    assert len(re.findall(bk, plan)) == 1
    assert not re.search(join_on_b, plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Spark jobs a cold q_dedup_minhash submits, from the call that builds
# the DataFrame through its write: 8 at sf0.001, sf0.01 and on the
# perfbench tables, on one CPU or eight (the band self-join plan took
# 14; 9 while each load inferred the table's schema in a job).
MINHASH_COLD_JOBS = 8


def test_minhash_cold_run_job_count(spark, sf_dir):
    """Job-count guard: a cold q_dedup_minhash (after clear_caches)
    stays within MINHASH_COLD_JOBS. Its cost on small inputs is the
    number of jobs, not the data, so a plan change that adds a stage
    job shows here first."""
    from kafka_to_parquet_spark.cache import clear_caches

    from kafka_to_parquet_spark.tables import load

    sc = spark.sparkContext
    group = "test_minhash_cold_run_job_count"
    # The table's schema is session metadata that clear_caches keeps:
    # learn it first, so the count does not depend on test order.
    load(spark, sf_dir, "documents")
    clear_caches(spark, sf_dir)
    sc.setJobGroup(group, "cold q_dedup_minhash")
    try:
        df = registry.QUERIES["q_dedup_minhash"](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async
    # listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MINHASH_COLD_JOBS, sorted(jobs)


def test_semdedup_pairwise_is_grouped_pandas_prune(run):
    """The within-cluster pairwise stage is ONE applyInPandas over
    cent_id (numpy Gram matrix per bounded cluster) — never a pair-
    stream join: round 6's cent_id self-join ran its interpreted
    cosine fold on an AQE-coalesced single partition, serializing the
    query's real work. No cartesian/nested-loop anywhere either."""
    plan = plan_of(run("q_semdedup"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_checksum_is_single_exchange(run):
    """Map + hash-aggregate: exactly one shuffle (partial sums merge)."""
    plan = plan_of(run("q_table_checksum"))
    assert plan.count("Exchange") <= 2  # partial→final agg + AQE read
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_stats_keeps_morton_code_in_codegen(run):
    """The Morton interleave is pure integer expression work — no
    Python anywhere, one broadcast of the 1-row min/max stats."""
    plan = plan_of(run("q_zorder_stats"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_prefix_join_prefilters_postings(run):
    """The prefix self-join must consume the rank-filtered postings —
    a window filter (rk <= prefix_len) below the join, and the join
    itself an equi join on the shingle."""
    plan = plan_of(run("q_dedup_jaccard_prefix"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_containment_join_prefilters_probe_side(run):
    """The asymmetric containment join must be an equi join on the
    shingle hash (prefix postings × full postings) — never a nested
    loop — with the prefix selection (rank window) below the join."""
    plan = plan_of(run("q_dedup_containment"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_ann_recall_reuses_broadcast_query_plans(run):
    """Both underlying ANN plans keep their shape inside the recall
    audit: broadcast query set (no corpus-sized shuffle for the brute
    side), no cartesian fallback anywhere."""
    plan = plan_of(run("q_ann_recall"))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_text_entropy_has_no_python_and_combines_map_side(run):
    """Entropy is pure JVM expression work: no BatchEvalPython /
    ArrowEvalPython anywhere, and the (doc, word) aggregate is a
    partial_count HashAggregate before its exchange."""
    plan = plan_of(run("q_text_entropy"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_dpp_injects_runtime_partition_filter(run):
    """The dim-side values must reach the fact scan as a
    dynamicpruningexpression inside PartitionFilters."""
    plan = plan_of(run("q_join_dpp"))
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_runtime_bloom_filter_injects_might_contain(spark, sf_dir):
    """Runtime bloom-filter join pruning — the shuffle-reduction lever
    for selective big×big joins at scale: the filtered build side's
    keys compile into a BloomFilterMightContain predicate applied to
    the probe side BEFORE its shuffle. (The fixture scans sit below the
    default 10 GB application-side threshold, so the test lowers it —
    the driver session keeps stock confs.)"""
    from pyspark.sql import functions as F

    from kafka_to_parquet_spark.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        od = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf_dir, "lineitem")
        j = li.join(od, li.l_orderkey == od.o_orderkey).groupBy("l_returnflag").count()
        plan = plan_of(j)
        assert "might_contain" in plan.lower(), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")


def test_null_aware_anti_join_plans_as_naaj(run):
    """q_join_null_aware must plan as Spark's null-aware anti join
    (BroadcastHashJoin ... LeftAnti with the NAAJ flag), not a plain
    left-anti — the flag is what preserves NOT IN's three-valued-logic
    semantics the day a NULL lands in the subquery side."""
    # The NAAJ flag is the trailing boolean of the simple-string plan
    # node (formatted explain omits it).
    df = run("q_join_null_aware")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"BroadcastHashJoin.*LeftAnti, BuildRight, true", plan)
    assert m, f"NAAJ flag missing from plan:\n{plan[:2000]}"


def test_graph_jaccard_broadcasts_degrees_and_takes_ordered(run):
    """The degree table joins must broadcast (parts-sized dim), and the
    top-k must be a TakeOrderedAndProject, not a global sort."""
    plan = plan_of(run("q_graph_jaccard"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_coreset_kcenter_rounds_are_persisted(run):
    """round-11 verdict item 2: q_coreset_kcenter's per-round dmin
    relation must be persisted (and parked) every round. Without the
    persist each of the K rounds' 2-3 scalar reduces re-executes every
    prior round's crossJoin chain (~K²/2 corpus passes — 80 exchanges
    in the round-10 full-plan audit; 11 with it). Pin both properties
    so a regression reintroducing the chained lineage fails here, the
    same way SSSP's shape is pinned by its bounded-storage test."""
    import re

    from kafka_to_parquet_spark.cache import clear_result_caches
    from kafka_to_parquet_spark.operators.batch9 import CORESET_K

    # Evict rounds parked by any EARLIER test's invocation first: the
    # CacheManager would plan-match them into this build, and the
    # formatted explain of an InMemoryRelation also prints its cached
    # child's exchanges, inflating the count.
    clear_result_caches()
    df = run("q_coreset_kcenter")
    plan = plan_of(df)
    # The persisted rounds surface as in-memory scans in the plan.
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, (
        "per-round dmin relation is not persisted — the K² lineage "
        "recompute is back"
    )
    # Each Gonzalez round contributes a bounded number of scalar
    # reduces (max dmin, argmin vec_id, step row); the K² chained shape
    # blew past 3 exchanges per round (80 total at K=4).
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 3 * CORESET_K + 2, (
        f"{n_ex} exchanges for K={CORESET_K} — expected <= {3 * CORESET_K + 2}; "
        "the per-round persist likely regressed"
    )
    clear_result_caches(df.sparkSession)


def test_sink_is_one_sorted_exchange_and_one_arrow_pass(spark, sf_dir, tmp_path):
    """The parquet sink is one hash exchange on the Kafka partition, a
    local sort and ONE map-in-Arrow pass that slices and writes the
    files: no batch-id window and no grouped-pandas stage. The sink
    module does not import pandas."""
    import ast
    import re

    from kafka_to_parquet_spark.sinks import parquet_batch
    from kafka_to_parquet_spark.sources.kafka_analog import kafka_records

    plan = plan_of(
        parquet_batch.write_partition_batches(kafka_records(spark, sf_dir), str(tmp_path))
    )
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert len(re.findall(r"hashpartitioning\(partition#\d+, \d+\)", plan)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" not in plan

    tree = ast.parse(open(parquet_batch.__file__).read())
    imported = {
        alias.name.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
    } | {
        node.module.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
    }
    assert "pandas" not in imported


def _ancestors(plan: str, node: str) -> list[str]:
    """Tree lines above each ``node`` line of a formatted plan, walking
    up through strictly shallower indentation (the node's ancestors)."""
    import re

    lines = plan.split("\n\n", 1)[0].splitlines()
    depth = [re.search(r"[A-Za-z]", ln).start() for ln in lines]
    found = []
    for i, ln in enumerate(lines):
        if re.search(rf"\b{node} \(\d+\)", ln):
            d = depth[i]
            for j in range(i - 1, -1, -1):
                if depth[j] < d:
                    found.append(lines[j].strip())
                    d = depth[j]
    return found


def test_trade_edges_union_has_no_distinct_above(spark, sf_dir):
    """The trade graph is bipartite (customers even ids, suppliers odd),
    so a reversed edge never equals a forward one: trade_edges unions
    the two directions without a distinct, and no aggregate sits above
    its Union."""
    from kafka_to_parquet_spark.operators.graph import trade_edges

    plan = plan_of(trade_edges(spark, sf_dir))
    above = _ancestors(plan, "Union")
    assert above, f"no Union in the trade_edges plan:\n{plan}"
    assert not [a for a in above if "Aggregate" in a], above


def test_trade_graph_is_never_reshuffled(spark, run):
    """PageRank's outdeg window and SSSP's weight projection run over
    graph.trade_edges, persisted hashed and sorted on src, so no
    Exchange sits directly above a trade-graph InMemoryTableScan (only
    the node-sized rank and distance relations exchange per round).
    Broadcast joins are off here: at test scale they would hide the
    edges' layout behind a broadcast of the whole graph."""
    import re

    from kafka_to_parquet_spark.cache import clear_result_caches

    narrow = re.compile(r"(TableCacheQueryStage|Filter|Project|ColumnarToRow) \(")
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    clear_result_caches(spark)
    for c in confs:
        spark.conf.set(c, "-1")
    try:
        for name in ("q_graph_pagerank", "q_sssp_weighted"):
            df = run(name)
            df.collect()
            tree, detail = plan_of(df).split("\n\n", 1)
            trade = set(re.findall(
                r"^\((\d+)\) InMemoryRelation\nArguments: \[[^\]]*\bn_txn#", detail, re.M
            ))
            lines = tree.splitlines()
            depth = [re.search(r"[A-Za-z]", ln).start() for ln in lines]
            above = []
            for i, ln in enumerate(lines):
                rel = re.search(r"InMemoryRelation \((\d+)\)", ln)
                if not rel or rel.group(1) not in trade:
                    continue
                d = depth[i - 1]  # the InMemoryTableScan line
                for j in range(i - 2, -1, -1):
                    if depth[j] < d:
                        d = depth[j]
                        if not narrow.search(lines[j]):
                            above.append(lines[j].strip())
                            break
            assert above, f"{name}: no trade-graph scan in the plan"
            assert not [a for a in above if re.search(r"\bExchange \(", a)], (name, above)
    finally:
        for c in confs:
            spark.conf.unset(c)
        clear_result_caches(spark)
