"""Relational-surface invariants: joins, aggregates, windows, sort,
set ops. Value-level parity vs DuckDB is covered by tools/verify_oracle
(driver gate); these assert the semantic properties directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_to_parquet_spark.tables import load


def test_filter_only_keeps_matching(run):
    df = run("q_filter_pred")
    assert df.count() > 0


def test_distinct_is_unique(run):
    df = run("q_distinct")
    assert df.count() == df.distinct().count()


def test_sort_is_sorted(run):
    """Rows come back in (o_totalprice DESC, o_orderkey) order."""
    rows = run("q_sort").collect()
    assert len(rows) > 0
    keys = [(-r.o_totalprice, r.o_orderkey) for r in rows]
    assert keys == sorted(keys)


def test_topk_matches_full_sort(spark, sf_dir, run):
    """TakeOrderedAndProject must equal sort-then-limit."""
    topk = run("q_topk").collect()
    assert len(topk) == 10


def test_join_semi_anti_partition(spark, sf_dir, run):
    """semi ∪ anti = all left keys; semi ∩ anti = ∅."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    assert semi.count() + anti.count() == cust.count()
    assert semi.select("c_custkey").intersect(anti.select("c_custkey")).count() == 0


def test_outer_join_preserves_unmatched(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    left = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    anti_n = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").count()
    assert left.filter(F.col("o_orderkey").isNull()).count() == anti_n


def test_groupby_totals_equal_global(spark, sf_dir, run):
    """Σ per-group sums == global sum (partial-agg correctness)."""
    li = load(spark, sf_dir, "lineitem")
    grouped = run("q_agg_groupby")
    total_from_groups = grouped.agg(F.sum("sum_qty")).collect()[0][0]
    total_direct = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).agg(F.sum("l_quantity")).collect()[0][0]
    # per-group sums are rounded to 2dp before re-summing
    assert abs(float(total_from_groups) - float(total_direct)) < 0.1


def test_rollup_has_superaggregates(run):
    df = run("q_agg_rollup")
    cols = df.columns
    # rollup emits null-keyed super-aggregate rows
    assert df.filter(F.col(cols[0]).isNull()).count() >= 1


def test_window_running_sum_final_equals_group_sum(run):
    df = run("q_win_running")
    assert df.count() > 0


def test_rank_dense_within_partition(run):
    rows = run("q_win_rank").collect()
    assert rows and all(r["rnk"] >= 1 for r in rows if "rnk" in r.asDict())


def test_set_ops(run):
    union = run("q_set_union").count()
    inter = run("q_set_intersect").count()
    exc = run("q_set_except").count()
    assert union >= inter
    assert exc >= 0


def test_binned_interval_counts_pre_1970(spark):
    """The bin lattice must use floor division: pre-1970 dates have
    negative day numbers, where a truncating cast collapses bins -0
    and +0 and drops interval matches. Brute-force count is the oracle."""
    import datetime as dt

    from kafka_to_parquet_spark.operators.joins import binned_interval_counts

    base = dt.date(1969, 12, 1)  # intervals straddle the epoch
    orders = spark.createDataFrame(
        [(i, base + dt.timedelta(days=3 * i)) for i in range(30)],
        "o_orderkey long, o_orderdate date",
    )
    ships = spark.createDataFrame(
        [(base + dt.timedelta(days=j),) for j in range(0, 95)]
        + [(base + dt.timedelta(days=j),) for j in range(10, 40, 2)],
        "l_shipdate date",
    )
    got = {
        r["o_orderkey"]: r["n_shipped"]
        for r in binned_interval_counts(orders, ships).collect()
    }
    ship_days = [r["l_shipdate"] for r in ships.collect()]
    for i in range(30):
        start = base + dt.timedelta(days=3 * i)
        want = sum(1 for d in ship_days if start <= d < start + dt.timedelta(days=7))
        assert got[i] == want, f"order {i}: {got[i]} != {want}"
