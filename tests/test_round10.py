"""Round-10 tests: per-round cache release for iterative kernels
(verdict item 5 — iterative kernels previously leaked O(rounds)
persisted node relations). Each round is persisted and parked with
cache.park, and the next cache boundary releases it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import _PARKED, _STORE, clear_result_caches, park


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of RDDs currently holding cached blocks (storage info)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos)) if infos[i].isCached()}


def test_iterative_kernels_hold_bounded_storage(run, spark, sf_dir):
    """q_sssp_weighted's loop (rounds persist lazily and park since the
    round-10 bench guard flagged per-round materialization jobs): while
    the answer is live the cached rounds are bounded by the CONSTANT
    round count, and clear_result_caches releases every superseded
    round — no leak across samples/queries."""
    from kafka_to_parquet_spark.operators.batch8 import SSSP_ROUNDS

    assert SSSP_ROUNDS >= 4  # the test is vacuous for tiny round counts
    clear_result_caches(spark)
    before = _cached_rdd_ids(spark)
    run("q_sssp_weighted").collect()
    new = _cached_rdd_ids(spark) - before
    # edges + per-round distances, all bounded by the fixed constant.
    assert len(new) <= SSSP_ROUNDS + 2, (
        f"q_sssp_weighted holds {len(new)} cached relations; expected "
        f"<= SSSP_ROUNDS+2 — an unbounded accumulation crept in"
    )
    clear_result_caches(spark)
    after = _cached_rdd_ids(spark) & new
    # The rounds are parked as result-level entries, so the
    # sweep-boundary eviction releases them. (The edge relation is a
    # FEATURE entry and may legitimately stay warm.)
    assert len(after) <= 2, (
        f"{len(after)} of the loop's relations survived "
        "clear_result_caches — the rounds were not parked"
    )


def test_roundloop_deferred_parks_rounds_for_sweep_release(spark):
    """Superseded rounds stay cached (one-job execution, in-job block
    reuse) but are parked in the cache store and released by
    clear_result_caches."""
    sf_dir = "/tmp/_roundloop_test"
    key = (spark, sf_dir, _PARKED)
    df = spark.range(100).select(F.col("id"), F.lit(0).alias("v"))
    steps = []
    for i in range(4):
        df = park(
            df.groupBy((F.col("id") % 10).alias("id"))
            .agg((F.sum("v") + F.lit(i)).alias("v"))
            .persist(),
            spark,
            sf_dir,
        )
        steps.append(df)
    # single final action — the whole chain runs as one job
    assert steps[-1].count() == 10
    assert len(_STORE[key][0]) == 4  # every round, the final one too
    cleared = clear_result_caches(spark, sf_dir)
    assert cleared >= 1 and key not in _STORE
    for s in steps:
        assert not s.storageLevel.useMemory, "parked round still persisted"


def test_roundloop_finish_parks_final_round(spark):
    """round-11 advisor fix: a FINAL round left persisted and
    registered nowhere let Spark's CacheManager match the identical
    rebuilt plan on the next timed sample and serve the memoized
    answer. park() puts the final round (and auxiliary frames) in the
    store as result-level, so the sweep-boundary eviction forces real
    recomputation."""
    sf_dir = "/tmp/_roundloop_finish_test"
    key = (spark, sf_dir, _PARKED)
    final = spark.range(64).select(F.col("id"), F.lit(0).alias("v"))
    for i in range(3):
        final = park(
            final.groupBy((F.col("id") % 8).alias("id"))
            .agg((F.sum("v") + F.lit(i)).alias("v"))
            .persist(),
            spark,
            sf_dir,
        )
    aux = park(spark.range(4).persist(), spark, sf_dir)
    assert len(_STORE[key][0]) == 4  # 2 superseded + final + aux
    assert _STORE[key][1] is True  # parked frames are result-level
    assert final.count() == 8
    assert final.storageLevel.useMemory  # still live for the caller's action
    clear_result_caches(spark, sf_dir)
    assert key not in _STORE
    assert not final.storageLevel.useMemory, "final round survived eviction"
    assert not aux.storageLevel.useMemory, "parked aux frame survived eviction"
    # and the answer recomputes correctly without the cache
    assert final.count() == 8
