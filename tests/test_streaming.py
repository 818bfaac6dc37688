"""Structured Streaming semantics: real readStream runs (availableNow →
memory sink) checked against their batch equivalents."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_dedup_emits_each_id_once(spark, sf_dir, run):
    from kafka_to_parquet_spark.tables import load

    out = run("q_stream_dedup").cache()
    ev = load(spark, sf_dir, "events")
    assert out.count() == ev.select("event_id").distinct().count()
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_watermark_agg_matches_batch_tumbling(spark, sf_dir, run):
    """With availableNow over a finite source every window is emitted
    at least once; the final update per window must equal the batch
    tumbling aggregation."""
    stream = run("q_stream_watermark")
    batch = run("q_stream_tumbling")
    # update-mode can emit a window multiple times; last update wins.
    final = (
        stream.groupBy("win_start_s", "event_type")
        .agg(F.max("n").alias("n"))
    )
    b = {(r["win_start_s"], r["event_type"]): r["n"] for r in batch.collect()
         if "win_start_s" in batch.columns}
    if b:
        s = {(r["win_start_s"], r["event_type"]): r["n"] for r in final.collect()}
        assert s == b


def test_stream_join_outer_extends_inner_with_expired_nulls(spark, sf_dir, run):
    """The left-outer interval join must (a) contain exactly the inner
    join's matched pairs, and (b) additionally emit NULL-extended rows
    only for clicks whose join window closed before the final
    watermark — never for clicks still inside the horizon."""
    from kafka_to_parquet_spark.streaming.stateful import JOIN_WINDOW_MIN
    from kafka_to_parquet_spark.tables import load

    outer = run("q_stream_join_outer").cache()
    inner = run("q_stream_join").cache()
    matched = outer.filter(F.col("purchase_id").isNotNull())
    assert matched.count() == inner.count()
    assert matched.exceptAll(inner).count() == 0

    nulls = outer.filter(F.col("purchase_id").isNull()).cache()
    # NULL rows carry NULL gap too, and their click ids are unmatched.
    assert nulls.filter(F.col("gap_s").isNotNull()).count() == 0
    assert (
        nulls.join(inner, nulls.click_id == inner.click_id, "left_semi").count() == 0
    )
    # Eviction bound: every NULL-extended click's window end precedes
    # the final watermark (min of both sides' max event time − 2 h).
    ev = load(spark, sf_dir, "events")
    wm = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(F.min("mx").alias("wm"))
        .collect()[0]["wm"]
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    late = (
        nulls.join(clicks, "click_id")
        .filter(
            F.col("c_ts") + F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
            >= F.lit(wm) - F.expr("INTERVAL 2 HOURS")
        )
        .count()
    )
    assert late == 0


def test_tumbling_windows_partition_time(spark, sf_dir, run):
    """Tumbling windows tile the timeline: Σ window counts == |events|."""
    from kafka_to_parquet_spark.tables import load

    ev = load(spark, sf_dir, "events")
    win = run("q_stream_tumbling")
    assert win.agg(F.sum("n")).collect()[0][0] == ev.count()


def test_session_windows_are_gap_separated_per_user(run):
    """Sessions merge events < gap apart, so two sessions of one user
    must start more than the gap (300 s) apart."""
    from kafka_to_parquet_spark.streaming.windows import SESSION_GAP_S

    rows = run("q_stream_session").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["session_start_s"])
    checked = 0
    for user, starts in by_user.items():
        starts = sorted(starts)
        for s1, s2 in zip(starts, starts[1:]):
            assert s2 - s1 > SESSION_GAP_S, f"sessions too close for {user}"
            checked += 1
    assert checked > 0


def test_stream_source_dir_memoized(spark, sf_dir):
    """Repeated streaming runs must reuse one symlink temp dir per
    (session, sf_dir, table) — a bench/verify sweep used to leak a
    fresh mkdtemp per call — and clearing the cache removes it."""
    import glob
    import os
    import tempfile

    from kafka_to_parquet_spark.cache import clear_caches
    from kafka_to_parquet_spark.streaming.stateful import (
        _stream_events,
        stream_source_dir,
    )

    d1 = stream_source_dir(spark, sf_dir, "events")
    before = set(glob.glob(tempfile.gettempdir() + "/ktps_stream_*"))
    for _ in range(3):
        _stream_events(spark, sf_dir)
    assert stream_source_dir(spark, sf_dir, "events") == d1
    after = set(glob.glob(tempfile.gettempdir() + "/ktps_stream_*"))
    assert after == before
    assert os.path.exists(d1)
    clear_caches(spark, sf_dir)
    assert not os.path.exists(d1)


def test_stream_topk_rank_over_real_streamed_counts(spark, sf_dir, run):
    """q_stream_topk's contract: the windowed count is the stateful
    streaming stage and the per-window rank runs downstream on closed
    windows. Prove it end-to-end — take the REAL readStream windowed
    counts (q_stream_watermark, availableNow; last update per window
    wins), apply the identical rank downstream, and the result must
    equal the declared batch-equivalent query exactly."""
    from pyspark.sql import Window

    from kafka_to_parquet_spark.operators.batch7 import STREAM_TOPK_K

    streamed = run("q_stream_watermark")
    final = streamed.groupBy("win_start_s", "event_type").agg(
        F.max("n").alias("n")
    )
    w = Window.partitionBy("win_start_s").orderBy(F.col("n").desc(), "event_type")
    ranked = (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= STREAM_TOPK_K)
    )
    got = {
        (r.win_start_s, r.event_type, r.n, r.rnk) for r in ranked.collect()
    }
    want = {
        (r.win_start_s, r.event_type, r.n, r.rnk)
        for r in run("q_stream_topk").collect()
    }
    assert got == want and want
