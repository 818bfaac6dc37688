"""Round-10 tests: per-round cache release for iterative kernels
(verdict item 5 — iterative kernels previously leaked O(rounds)
persisted node relations). Each round is parked with cache.park, and
the next cache boundary releases it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import _PARKED, _STORE, clear_result_caches, park


def test_iterative_kernels_hold_bounded_storage(run, spark, sf_dir, held_rdds):
    """q_sssp_weighted's loop (rounds are parked lazily since the
    round-10 bench guard flagged per-round materialization jobs): while
    the answer is live the cached rounds are bounded by the CONSTANT
    round count, and clear_result_caches releases every superseded
    round — no leak across samples/queries."""
    from kafka_to_parquet_spark.operators.batch8 import SSSP_ROUNDS

    assert SSSP_ROUNDS >= 4  # the test is vacuous for tiny round counts
    clear_result_caches(spark)
    before = held_rdds()
    run("q_sssp_weighted").collect()
    new = held_rdds() - before
    # edges + per-round distances, all bounded by the fixed constant.
    assert len(new) <= SSSP_ROUNDS + 2, (
        f"q_sssp_weighted holds {len(new)} cached relations; expected "
        f"<= SSSP_ROUNDS+2 — an unbounded accumulation crept in"
    )
    clear_result_caches(spark)
    after = held_rdds() & new
    # The rounds are parked as result-level entries, so the
    # sweep-boundary eviction releases them. (The edge relation is a
    # FEATURE entry and may legitimately stay warm.)
    assert len(after) <= 2, (
        f"{len(after)} of the loop's relations survived "
        "clear_result_caches — the rounds were not parked"
    )


def test_roundloop_deferred_parks_rounds_for_sweep_release(spark, held_rdds):
    """Every round is parked in the cache store: the rounds hold their
    blocks while the chain is live, and clear_result_caches releases
    them all."""
    sf_dir = "/tmp/_roundloop_test"
    key = (spark, sf_dir, _PARKED)
    before = held_rdds()
    df = spark.range(100).select(F.col("id"), F.lit(0).alias("v"))
    for i in range(4):
        df = park(
            df.groupBy((F.col("id") % 10).alias("id")).agg(
                (F.sum("v") + F.lit(i)).alias("v")
            ),
            spark,
            sf_dir,
        )
    assert df.count() == 10
    assert len(_STORE[key][0]) == 4  # every round, the final one too
    held = held_rdds() - before
    assert len(held) == 4, "a round holds no blocks"
    cleared = clear_result_caches(spark, sf_dir)
    assert cleared >= 1 and key not in _STORE
    assert not held_rdds() & held, "a parked round survived eviction"


def test_roundloop_finish_parks_final_round(spark, held_rdds):
    """round-11 advisor fix: a FINAL round registered nowhere survived
    every clear (as a persist it also let Spark's CacheManager serve
    the identical rebuilt plan on the next timed sample). park() puts
    the final round (and auxiliary frames) in the store as
    result-level: their blocks are held while the caller reads them
    and released by the sweep-boundary eviction, and a rebuilt chain
    computes the same answer again."""
    sf_dir = "/tmp/_roundloop_finish_test"
    key = (spark, sf_dir, _PARKED)

    def chain():
        final = spark.range(64).select(F.col("id"), F.lit(0).alias("v"))
        for i in range(3):
            final = park(
                final.groupBy((F.col("id") % 8).alias("id")).agg(
                    (F.sum("v") + F.lit(i)).alias("v")
                ),
                spark,
                sf_dir,
            )
        return final

    before = held_rdds()
    final = chain()
    aux = park(spark.range(4), spark, sf_dir)
    assert len(_STORE[key][0]) == 4  # 2 superseded + final + aux
    assert _STORE[key][1] is True  # parked frames are result-level
    assert sorted(tuple(r) for r in final.collect()) == [(k, 3) for k in range(8)]
    assert aux.count() == 4
    held = held_rdds() - before
    assert len(held) == 4  # still live for the caller's action
    clear_result_caches(spark, sf_dir)
    assert key not in _STORE
    assert not held_rdds() & held, "a parked frame survived eviction"
    assert sorted(tuple(r) for r in chain().collect()) == [(k, 3) for k in range(8)]
    clear_result_caches(spark, sf_dir)
