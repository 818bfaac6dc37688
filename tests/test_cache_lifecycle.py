"""Lifecycle tests for the module-level (SparkSession, sf_dir) caches
(cache.py): eviction is scoped, unpersists storage, and a second
sf_dir's run doesn't leak the first's persisted intermediates."""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_to_parquet_spark.cache import (
    _REGISTERED,
    clear_caches,
    registered_entry_count,
)
from kafka_to_parquet_spark.llm.dedup import _SHINGLE_CACHE
from kafka_to_parquet_spark.llm.minhash import _HASHED_CACHE, _hashed_shingles

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _entries_for(sf_dir: str) -> int:
    return sum(1 for c in _REGISTERED for (_, d) in c if d == sf_dir)


def test_clear_is_scoped_by_sf_dir_and_unpersists(spark):
    clear_caches(spark)
    df_a = _hashed_shingles(spark, SF_A)
    df_b = _hashed_shingles(spark, SF_B)
    df_a.count(), df_b.count()  # materialize both persists
    assert df_a.storageLevel.useMemory
    assert (spark, SF_A) in _HASHED_CACHE and (spark, SF_B) in _HASHED_CACHE

    # Scoped clear: sf_dir A evicted + unpersisted, B untouched.
    assert clear_caches(spark, SF_A) >= 1
    assert (spark, SF_A) not in _HASHED_CACHE
    assert (spark, SF_B) in _HASHED_CACHE
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
    ANY registered cache while B keeps its own."""
    clear_caches(spark)
    run("q_dedup_ngram_jaccard").count()  # populates _SHINGLE_CACHE at sf0.001
    from kafka_to_parquet_spark import registry

    registry.QUERIES["q_dedup_ngram_jaccard"](spark, SF_B).count()
    assert (spark, SF_A) in _SHINGLE_CACHE and (spark, SF_B) in _SHINGLE_CACHE
    clear_caches(spark, SF_A)
    assert _entries_for(SF_A) == 0
    assert (spark, SF_B) in _SHINGLE_CACHE
    clear_caches(spark)
    assert registered_entry_count() == 0


def test_all_dataframe_caches_are_registered():
    """Every module-level DataFrame cache dict must flow through
    register_cache — grep-equivalent guard so a future cache can't be
    added outside the lifecycle."""
    import importlib
    import pkgutil

    import kafka_to_parquet_spark as pkg

    registered_ids = {id(c) for c in _REGISTERED}
    missing = []
    for mod_info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(mod_info.name)
        for attr, val in vars(mod).items():
            if attr.endswith("_CACHE") and isinstance(val, dict):
                if id(val) not in registered_ids:
                    missing.append(f"{mod_info.name}.{attr}")
    assert missing == []


def test_result_level_clear_targets_only_result_caches(spark, sf_dir):
    """clear_result_caches (the bench/scaling honesty mechanism) must
    evict exactly the result_level-registered caches and leave feature
    caches warm — and _LABELS_CACHE must actually be enrolled as
    result-level (the whole point of the round-5 refactor). Connected
    components parks every loop round, the converged one included, so
    the clear leaves none of their blocks behind."""
    from kafka_to_parquet_spark.cache import (
        _DEFERRED_ROUNDS,
        _RESULT_LEVEL,
        clear_result_caches,
        register_cache,
    )
    from kafka_to_parquet_spark.llm.components import (
        _LABELS_CACHE,
        component_labels,
        near_dup_edges,
    )

    assert any(c is _LABELS_CACHE for c in _RESULT_LEVEL)

    feat = register_cache({})
    res = register_cache({}, result_level=True)
    try:
        feat[("s", "d")] = "feature-value"
        res[("s", "d")] = "result-value"
        n = clear_result_caches()
        assert n >= 1
        assert res == {}
        assert feat == {("s", "d"): "feature-value"}
    finally:
        # Deregister the throwaway dicts so later lifecycle tests'
        # entry counts aren't affected. By IDENTITY, not list.remove:
        # dicts compare by CONTENT, so remove(<emptied dict>) deletes
        # the first EMPTY registered cache — round 10 this silently
        # deregistered cache._DEFERRED_ROUNDS (empty at that moment)
        # and broke every later result-level eviction in the session.
        from kafka_to_parquet_spark.cache import _REGISTERED

        feat.clear()
        _REGISTERED[:] = [c for c in _REGISTERED if c is not feat and c is not res]
        _RESULT_LEVEL[:] = [c for c in _RESULT_LEVEL if c is not res]

    def persisted_rdd_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    near_dup_edges(spark, sf_dir).count()  # feature cache: stays warm
    before = persisted_rdd_ids()
    component_labels(spark, sf_dir).count()
    assert persisted_rdd_ids() - before  # the loop rounds are checkpointed
    clear_result_caches(spark, sf_dir)
    assert (spark, sf_dir) not in _DEFERRED_ROUNDS
    assert (spark, sf_dir) not in _LABELS_CACHE
    assert persisted_rdd_ids() - before == set()


def test_eager_sentinel_frames_match_sf_dir_scoped_eviction(spark):
    """Frames parked under the eager-RoundLoop sentinel belong to no
    dataset, so an sf_dir-scoped eviction (bench's clear_caches(spark,
    sf_dir) between scale factors) must reach them too — otherwise
    they'd survive every dataset-scoped cleanup until teardown."""
    from kafka_to_parquet_spark.cache import (
        _DEFERRED_ROUNDS,
        _EAGER_SENTINEL,
        clear_caches,
        park_frame,
    )

    clear_caches(spark)
    df = spark.range(5).persist()
    park_frame(df)  # no (spark, sf_dir): parks under the sentinel
    assert (spark, _EAGER_SENTINEL) in _DEFERRED_ROUNDS
    # A DIFFERENT dataset's scoped eviction still evicts the sentinel.
    assert clear_caches(spark, "/no/such/sf_dir") >= 1
    assert (spark, _EAGER_SENTINEL) not in _DEFERRED_ROUNDS
    assert df.storageLevel.useMemory is False


def test_park_frame_keys_by_sf_dir_when_known(spark):
    from kafka_to_parquet_spark.cache import (
        _DEFERRED_ROUNDS,
        clear_caches,
        park_frame,
    )

    clear_caches(spark)
    df = spark.range(5).persist()
    park_frame(df, spark, SF_A)
    assert (spark, SF_A) in _DEFERRED_ROUNDS
    clear_caches(spark, SF_A)
    assert (spark, SF_A) not in _DEFERRED_ROUNDS
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
