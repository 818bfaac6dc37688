"""Lifecycle tests for the session-scoped (SparkSession, sf_dir, name)
memo store (cache.py): eviction is scoped, unpersists storage, and a
second sf_dir's run doesn't leak the first's persisted intermediates."""

from __future__ import annotations

import pytest

from kafka_to_parquet_spark.cache import (
    _PARKED,
    _STORE,
    clear_caches,
    registered_entry_count,
)
from kafka_to_parquet_spark.llm.minhash import _hashed_shingles
from kafka_to_parquet_spark.tables import TABLE_NAMES, load

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _entries_for(sf_dir: str) -> int:
    return sum(1 for (_, d, _) in _STORE if d == sf_dir)


def test_clear_is_scoped_by_sf_dir_and_unpersists(spark):
    clear_caches(spark)
    df_a = _hashed_shingles(spark, SF_A)
    df_b = _hashed_shingles(spark, SF_B)
    df_a.count(), df_b.count()  # materialize both persists
    assert df_a.storageLevel.useMemory
    assert (spark, SF_A, "hashed_shingles") in _STORE
    assert (spark, SF_B, "hashed_shingles") in _STORE

    # Scoped clear: sf_dir A evicted + unpersisted, B untouched.
    assert clear_caches(spark, SF_A) >= 1
    assert (spark, SF_A, "hashed_shingles") not in _STORE
    assert (spark, SF_B, "hashed_shingles") in _STORE
    assert not df_a.storageLevel.useMemory
    assert df_b.storageLevel.useMemory

    # Second call is a no-op for A; full clear empties everything.
    assert clear_caches(spark, SF_A) == 0
    clear_caches(spark)
    assert _entries_for(SF_A) == 0 and _entries_for(SF_B) == 0
    assert not df_b.storageLevel.useMemory


def test_second_sf_dir_does_not_leak_first(spark, run, sf_dir):
    """The verdict's leak scenario: run a cache-backed query at sf A,
    then move to sf B — clearing A must leave zero A-keyed entries in
    memo entry while B keeps its own."""
    clear_caches(spark)
    run("q_dedup_ngram_jaccard").count()  # memoizes the shingles at sf0.001
    from kafka_to_parquet_spark import registry

    registry.QUERIES["q_dedup_ngram_jaccard"](spark, SF_B).count()
    assert (spark, SF_A, "shingled_documents") in _STORE
    assert (spark, SF_B, "shingled_documents") in _STORE
    clear_caches(spark, SF_A)
    assert _entries_for(SF_A) == 0
    assert (spark, SF_B, "shingled_documents") in _STORE
    clear_caches(spark)
    assert registered_entry_count() == 0


def test_all_dataframe_caches_are_registered():
    """Every memoized intermediate must live in cache.py's one store
    (via memo/park): no other module may hold a module-level dict or
    set named like a cache — a guard so a future cache, or a scratch
    directory registry like the old unregistered stream-dir dict,
    can't be added outside the lifecycle."""
    import importlib
    import pkgutil

    import kafka_to_parquet_spark as pkg

    suffixes = ("_CACHE", "_DIRS", "_STORES", "_CLEANUPS")
    found = []
    for mod_info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if mod_info.name == "kafka_to_parquet_spark.cache":
            continue
        mod = importlib.import_module(mod_info.name)
        for attr, val in vars(mod).items():
            if attr.endswith(suffixes) and isinstance(val, (dict, set)):
                found.append(f"{mod_info.name}.{attr}")
    assert found == []


def test_result_level_clear_targets_only_result_caches(spark, sf_dir):
    """clear_result_caches (the bench/scaling honesty mechanism) must
    evict exactly the result-level entries and leave feature entries
    warm — and component_labels must actually be memoized as
    result-level (the whole point of the round-5 refactor). Connected
    components parks every loop round, the converged one included, so
    the clear leaves none of their blocks behind."""
    from kafka_to_parquet_spark.cache import clear_result_caches, memo
    from kafka_to_parquet_spark.llm.components import (
        component_labels,
        near_dup_edges,
    )

    d = "/no/such/sf_dir"
    try:
        memo(spark, d, "feature", lambda: "feature-value")
        memo(spark, d, "result", lambda: "result-value", result=True)
        n = clear_result_caches()
        assert n >= 1
        assert (spark, d, "result") not in _STORE
        assert _STORE[(spark, d, "feature")] == ("feature-value", False)
    finally:
        # Drop the throwaway entries so later lifecycle tests' entry
        # counts aren't affected.
        clear_caches(spark, d)

    def persisted_rdd_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    near_dup_edges(spark, sf_dir).count()  # feature entry: stays warm
    before = persisted_rdd_ids()
    component_labels(spark, sf_dir).count()
    assert _STORE[(spark, sf_dir, "component_labels")][1] is True
    assert persisted_rdd_ids() - before  # the loop rounds are checkpointed
    clear_result_caches(spark, sf_dir)
    assert (spark, sf_dir, _PARKED) not in _STORE
    assert (spark, sf_dir, "component_labels") not in _STORE
    assert (spark, sf_dir, "near_dup_edges") in _STORE
    assert persisted_rdd_ids() - before == set()


def test_park_keys_by_sf_dir(spark):
    from kafka_to_parquet_spark.cache import park

    clear_caches(spark)
    df = spark.range(5).persist()
    assert park(df, spark, SF_A) is df
    assert (spark, SF_A, _PARKED) in _STORE
    assert registered_entry_count() == 1  # one per (session, sf_dir)
    park(spark.range(3).persist(), spark, SF_A)
    assert registered_entry_count() == 1
    clear_caches(spark, SF_A)
    assert (spark, SF_A, _PARKED) not in _STORE
    assert df.storageLevel.useMemory is False


def test_reclaim_is_a_package_util(spark):
    """session.reclaim — the between-heavy-jobs shuffle-file release
    discipline the sf≈100 stress proved necessary — must live in the
    package (round-11 verdict item 6), run against a live session
    without error, and leave the session usable."""
    from pyspark.sql import functions as F

    from kafka_to_parquet_spark.session import reclaim

    spark.range(1000).groupBy(F.col("id") % 7).count().collect()
    reclaim(spark)
    assert spark.range(3).count() == 3


# Each query that writes a scratch dataset, with the temp_dataset
# prefixes of the directories it owns.
_SCRATCH_OWNERS = {
    "q_partition_pruning": ("part_events",),
    "q_delete_compact": ("part_events", "delete"),
    "q_merge_upsert": ("part_events", "merge"),
    "q_jsonl_roundtrip": ("jsonl",),
    "q_csv_scan": ("csv",),
    "q_orc_roundtrip": ("orc",),
    "q_schema_evolution": ("evolve",),
    "q_compact_files": ("frag", "compact"),
    "q_join_bucketed": ("bucketed",),
    "q_incr_agg": ("aggstate",),
}


def test_clear_caches_removes_scratch_datasets(spark, run, sf_dir):
    """Every scratch dataset a query writes under the temp directory is
    a cache-owned TempDataset: clear_caches removes it from disk."""
    import os

    from kafka_to_parquet_spark.cache import temp_dataset

    dirs = set()
    for name, prefixes in _SCRATCH_OWNERS.items():
        run(name).count()
        dirs |= {temp_dataset(spark, sf_dir, p) for p in prefixes}
    assert all(os.path.isdir(d) for d in dirs), sorted(dirs)
    clear_caches(spark, sf_dir)
    assert not [d for d in dirs if os.path.exists(d)]


@pytest.mark.parametrize(
    "name",
    [
        "q_bfs_levels",
        "q_graph_kcore",
        "q_graph_label_prop",
        "q_winnowing_fingerprint",
        "q_text_rake",
        "q_ts_anomaly_stl",
        "q_graph_clustering_coeff",
        "q_kmv_union_audit",
        "q_link_adamic_adar",
    ],
)
def test_clear_caches_releases_every_persist(spark, run, sf_dir, name):
    """Every frame a query persists is held by the memo store (memo or
    park), so clear_caches leaves Spark's CacheManager empty: a bare
    persist() would survive it and serve a later run from the cache."""
    clear_caches()
    spark.catalog.clearCache()
    run(name).collect()
    clear_caches(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_trade_graph_is_one_entry(spark, run, sf_dir):
    """PageRank, SSSP and BFS share one persisted trade graph: each
    derives its decoration (outdeg, weight) from graph.trade_edges
    instead of persisting a decorated copy."""
    clear_caches()
    for name in ("q_graph_pagerank", "q_sssp_weighted", "q_bfs_levels"):
        run(name).collect()
    trade = [n for (_, _, n) in _STORE if str(n).startswith("trade")]
    assert trade == ["trade_edges"]
    clear_caches(spark, sf_dir)


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async
    # listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_submits_no_job_once_schema_known(spark, sf_dir, name):
    """A table's inferred schema is session metadata: once known, a
    load submits no schema-inference job, and clear_caches keeps it,
    so a cold pass after a clear does not infer it again either."""
    load(spark, sf_dir, name)
    again = _jobs_in_group(spark, f"load_again_{name}", lambda: load(spark, sf_dir, name))
    assert again == []
    clear_caches()
    assert registered_entry_count() == 0  # metadata is not counted
    cold = _jobs_in_group(spark, f"load_cold_{name}", lambda: load(spark, sf_dir, name))
    assert cold == []


def test_load_infers_again_after_table_rewritten(spark, tmp_path):
    """The schema's key carries the file's mtime and size: a table
    rewritten in place in the same session is inferred again, so the
    load returns the new file's columns and rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    d = str(tmp_path)
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}),
        path,
    )
    first = load(spark, d, "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in first.collect()) == [(0, "A"), (1, "B")]
    pq.write_table(
        pa.table(
            {
                "r_id": pa.array([7, 8, 9], pa.int64()),
                "r_label": ["x", "y", "z"],
                "r_weight": [0.5, 1.5, 2.5],
            }
        ),
        path,
    )
    second = load(spark, d, "region")
    assert second.columns == ["r_id", "r_label", "r_weight"]
    assert sorted(tuple(r) for r in second.collect()) == [
        (7, "x", 0.5),
        (8, "y", 1.5),
        (9, "z", 2.5),
    ]
