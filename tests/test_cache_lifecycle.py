"""Lifecycle tests for the session-scoped (SparkSession, sf_dir, name)
memo store (cache.py): eviction is scoped, unpersists storage, and a
second sf_dir's run doesn't leak the first's persisted intermediates."""

from __future__ import annotations

from kafka_to_parquet_spark.cache import (
    _PARKED,
    _STORE,
    clear_caches,
    registered_entry_count,
)
from kafka_to_parquet_spark.llm.minhash import _hashed_shingles

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
