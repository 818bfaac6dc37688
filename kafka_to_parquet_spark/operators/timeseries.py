"""Event-stream analytics over the ``events`` table: ordered funnel,
calendar gap-fill, time-range rolling windows, and exact-arithmetic
outlier detection.

These are the batch forms of the operational analytics a user of the
reference pipeline (Kafka events → parquet) runs downstream of the sink
(reference src/main.rs:229-253 writes the batches; querying them is out
of the reference's scope). All four are pure DataFrame plans — one
shuffle each on the natural key (user_id / event_type), no Python in
the hot path.

Cross-engine discipline: timestamps compare exactly (µs integers);
``value`` is an exact 2-decimal double, so all statistics are carried
as integer cents and every predicate is evaluated in integer
arithmetic — the oracle can't diverge by a ulp.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_funnel",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
),
s1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT CAST(count(s1.t1) AS BIGINT) AS n_signup,
       CAST(count(s2.t2) AS BIGINT) AS n_click,
       CAST(count(s3.t3) AS BIGINT) AS n_purchase,
       CAST(COALESCE(sum(floor(epoch(s3.t3)) - floor(epoch(s1.t1))), 0) AS BIGINT)
         AS total_conv_s
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s2.user_id = s3.user_id
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel signup → click → purchase per user: first
    signup, first click strictly after it, first purchase strictly
    after that; reports per-stage user counts and total signup→purchase
    conversion seconds.

    Shape: three min-aggregations all keyed on user_id — Catalyst hash-
    partitions once and reuses the exchange (per-user state is three
    timestamps, so 100 TB of events reduce to |users| rows after stage
    1). The stage-N candidate set joins stage N-1's min, which is
    |users|-sized — broadcastable at any event volume."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    full = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    return full.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
        F.coalesce(
            F.sum(F.floor(F.unix_timestamp("t3")) - F.floor(F.unix_timestamp("t1"))),
            F.lit(0),
        )
        .cast("long")
        .alias("total_conv_s"),
    )


@query(
    "q_ts_gapfill",
    oracle="""
WITH cal AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS d
),
ty AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
cnt AS (
  SELECT CAST(ts AS DATE) AS d, event_type, CAST(count(*) AS BIGINT) AS n0
  FROM events WHERE value >= 480 GROUP BY 1, 2
)
SELECT cal.d, ty.event_type,
       COALESCE(cnt.n0, 0) AS n,
       CAST(sum(COALESCE(cnt.n0, 0)) OVER (
         PARTITION BY ty.event_type ORDER BY cal.d
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
FROM cal
CROSS JOIN ty
LEFT JOIN cnt ON cnt.d = cal.d AND cnt.event_type = ty.event_type
""",
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: daily counts of a sparse event subset
    (value ≥ 480) for every (day, type) cell of the fixed 30-day ×
    5-type grid — absent cells become explicit zeros — plus a per-type
    running total.

    Shape: the dense calendar is generated (``sequence`` + explode —
    30×5 rows regardless of data volume), the event side aggregates
    BEFORE the join (count per (day, type), so the left join is
    grid-sized, not event-sized), and the cumulative window runs over
    the tiny grid. This is the scale-correct gap-fill: never explode
    events against the calendar."""
    ev = load(spark, sf_dir, "events").filter(F.col("value") >= 480)
    cnt = (
        ev.groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n0"))
    )
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date")
            )
        ).alias("d")
    )
    ty = spark.createDataFrame([(t,) for t in EVENT_TYPES], "event_type string")
    grid = cal.crossJoin(F.broadcast(ty))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(cnt), ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("n0", F.lit(0)).alias("n"))
        .withColumn("cum", F.sum("n").over(w).cast("long"))
    )


@query(
    "q_win_range_time",
    oracle="""
SELECT event_id, user_id, es,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       CAST(sum(c) OVER w AS BIGINT) AS cents_24h
FROM (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
""",
)
def q_win_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling window (W3's event-time form): for every
    event, the count and cents-sum of the same user's events in the
    trailing 24 h — ``rangeBetween`` on epoch seconds, not row frames,
    so irregular event spacing is handled exactly (peer rows at the
    same second share a frame in both engines by RANGE semantics).

    Shape: one shuffle on user_id, then a sorted single pass per
    partition with a sliding two-pointer frame — state is the frame
    aggregate, never the frame contents. Sums are integer cents, so
    the rolling totals are exact."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("es").rangeBetween(-86399, 0)
    return ev.select(
        "event_id",
        "user_id",
        "es",
        F.count(F.lit(1)).over(w).cast("long").alias("n_24h"),
        F.sum("c").over(w).cast("long").alias("cents_24h"),
    )


# Exact-integer outlier predicate: |value - mean| > 2.5·stddev, squared
# and cleared of denominators so both engines evaluate pure integer
# arithmetic (population variance; c = cents, n/s/q = count/Σc/Σc²):
#   (c - s/n)² > 6.25·(nq - s²)/n²  ⇔  4·(cn - s)² > 25·(nq - s²)
# The products are evaluated in 38-digit integers (Spark DECIMAL(38,0),
# DuckDB HUGEINT) so the identity holds far past 100 TB row counts.
_OUTLIER_PRED_SPARK = (
    "4 * (CAST(c AS DECIMAL(38,0)) * n - s) * (CAST(c AS DECIMAL(38,0)) * n - s)"
    " > 25 * (CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s)"
)
_OUTLIER_PRED_DUCK = (
    "4 * (CAST(c AS HUGEINT) * n - s) * (CAST(c AS HUGEINT) * n - s)"
    " > 25 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)"
)


@query(
    "q_outliers_zscore",
    oracle=f"""
WITH base AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS q
  FROM base GROUP BY event_type
)
SELECT event_id, base.event_type, c AS cents, n AS grp_n
FROM base JOIN stats ON base.event_type = stats.event_type
WHERE {_OUTLIER_PRED_DUCK}
""",
)
def q_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection: events whose value deviates from
    their type's mean by more than 2.5 population standard deviations
    — evaluated WITHOUT floats. The 2-decimal values become integer
    cents; per-type (n, Σc, Σc²) are exact integer aggregates; the
    z² > 2.5² test is cleared of denominators into a pure-integer
    inequality (see _OUTLIER_PRED_*), so Spark and DuckDB agree on
    every boundary case by construction.

    Shape: one partial+final agg to 5 stat rows, broadcast back onto
    the scan, filter — no second shuffle. The same two-pass shape is
    how you'd z-filter 100 TB: stats are map-side-combinable and the
    rejoin is a broadcast."""
    base = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    stats = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    return (
        base.join(F.broadcast(stats), "event_type")
        .filter(F.expr(_OUTLIER_PRED_SPARK))
        .select("event_id", "event_type", F.col("c").alias("cents"), F.col("n").alias("grp_n"))
    )


@query(
    "q_sessionize",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
lagged AS (
  SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 21600
                 THEN 1 ELSE 0 END AS new_s
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
tagged AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_seq
  FROM lagged
)
SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       min(es) AS start_es,
       max(es) - min(es) AS dur_s
FROM tagged GROUP BY user_id, sess_seq
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: assign gap-based session ids (new session
    after > 6 h of inactivity) and emit per-session summaries. This is
    the batch twin of q_stream_session (Spark's session_window) — the
    classic lag + running-sum-of-boundaries formulation, so the session
    id is a deterministic (user, ordinal) pair both engines derive
    identically (ties broken by event_id in the window order).

    Shape: one shuffle on user_id; the lag, the boundary cumsum, and
    the final per-session aggregate all run inside that one partition
    pass (the groupBy keys are a prefix of the window partitioning, so
    no second exchange). Per-key state is a timestamp — 100 TB of
    events stream through in one sorted scan per user shard."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.floor(F.unix_timestamp("ts")).cast("long").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    lagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("es").over(w).isNull() | ((F.col("es") - F.lag("es").over(w)) > 21600),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    tagged = lagged.withColumn(
        "sess_seq", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        tagged.groupBy("user_id", F.col("sess_seq").cast("long").alias("sess_seq"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("es").alias("start_es"),
            (F.max("es") - F.min("es")).alias("dur_s"),
        )
    )


@query(
    "q_ts_rollup_hier",
    oracle="""
SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
       CAST(ts AS DATE) AS d,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY ROLLUP (m, d, event_type)
""",
)
def q_ts_rollup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: event counts and
    exact cents volume at every granularity of the month ⊃ day ⊃ type
    hierarchy in ONE pass — the batch form of a continuous aggregate
    (per-day, per-month, and grand-total rows materialize together;
    subtotal rows carry NULL keys in both engines).

    Shape: Catalyst plans rollup as a single Expand (4 grouping sets)
    feeding one hash aggregate — the fact is scanned once, partials
    combine map-side, and the shuffled rows are the expanded KEYS, not
    the facts (days × types × 4 sets). At 100 TB this is the
    materialize-once pattern that replaces three separate scans; the
    day-level output is exactly the state q_incr_agg maintains
    incrementally."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.trunc(F.to_date("ts"), "month").alias("m"),
            F.to_date("ts").alias("d"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .rollup("m", "d", "event_type")
        .agg(F.count("*").alias("n"), F.sum("c").cast("long").alias("cents"))
    )


# Incremental-aggregation cutoff: state covers days < CUTOFF, the
# "freshly arrived" partition is days >= CUTOFF.
INCR_CUTOFF = "2024-01-25"


@query(
    "q_incr_agg",
    oracle="""
SELECT CAST(ts AS DATE) AS d, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY d, event_type
""",
)
def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view refresh):
    the per-(day, type) count/cents aggregate is kept as a persisted
    STATE table covering history (days < INCR_CUTOFF, materialized
    once); refresh scans ONLY the newly-arrived delta partition
    (days ≥ cutoff), aggregates it, and merges by summing state ∪
    delta — never re-reading history. The oracle recomputes from
    scratch, proving merge == full recompute.

    Shape at 100 TB: refresh cost is O(|delta| + |state|), with
    |state| = days × types (trivial) — against O(|table|) for the
    recompute the oracle does. Count/sum are decomposable aggregates,
    so the merge is a second-level sum over disjoint day keys; with a
    date-partitioned layout (sources/partitioned.py) the delta scan
    prunes to the new partitions before reading a row."""
    cutoff = F.lit(INCR_CUTOFF).cast("date")

    def build() -> str:
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        state_dir = os.path.join(tempfile.gettempdir(), f"ktps_aggstate_{digest}")
        (
            load(spark, sf_dir, "events")
            .filter(F.to_date("ts") < cutoff)
            .groupBy(F.to_date("ts").alias("d"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
            )
            .write.mode("overwrite")
            .parquet(state_dir)
        )
        return state_dir

    state = spark.read.parquet(memo(spark, sf_dir, "incr_agg_state", build))
    delta = (
        load(spark, sf_dir, "events")
        .filter(F.to_date("ts") >= cutoff)
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
    )
    return (
        state.unionByName(delta)
        .groupBy("d", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@query(
    "q_retention_cohort",
    oracle="""
WITH ua AS (
  SELECT DISTINCT user_id,
         CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT) AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM ua GROUP BY user_id)
SELECT cohort_week, week, CAST(count(*) AS BIGINT) AS n_users
FROM ua JOIN cohort USING (user_id)
GROUP BY cohort_week, week
""",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by their first active
    week (cohort), counted in every subsequent week they returned —
    the (cohort_week, week, n_users) triangle behind every retention
    curve.

    Shape: everything is keyed on user_id — the (user, week) distinct,
    the per-user min-week cohort, and the join between them share one
    hash partitioning, so Catalyst plans a single exchange of
    user-sized (not event-sized) rows and AQE reuses it; the final
    aggregate's key space is weeks², broadcast-tiny at any data
    volume. Per-user state is one integer. The diagonal cell
    (week == cohort_week) is the cohort's size, so the matrix is
    self-normalizing downstream."""
    ev = load(spark, sf_dir, "events")
    ua = ev.select(
        "user_id",
        F.expr(
            "CAST(datediff(to_date(ts), DATE'2024-01-01') DIV 7 AS BIGINT)"
        ).alias("week"),
    ).distinct()
    cohort = ua.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ua.join(cohort, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_ts_locf",
    oracle="""
WITH cal AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS d
),
ty AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type),
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value >= 480 GROUP BY 1, 2
)
SELECT cal.d, ty.event_type,
       CAST(last_value(daily.v IGNORE NULLS) OVER (
         PARTITION BY ty.event_type ORDER BY cal.d
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v_filled
FROM cal
CROSS JOIN ty
LEFT JOIN daily ON daily.d = cal.d AND daily.event_type = ty.event_type
""",
)
def q_ts_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward interpolation: the sparse daily
    cents series (value ≥ 480) on the dense calendar grid, with missing
    days filled by the most recent observed value (leading gaps stay
    NULL — no value has been observed yet, and inventing one would be
    lying). Complements q_ts_gapfill's zero-fill: zeros are correct for
    counts, LOCF for sampled measurements.

    Shape: identical to q_ts_gapfill — aggregate the events BEFORE the
    grid join, then a window over the tiny grid. Daily sums are exact
    integer cents, so the carried values are engine-identical."""
    ev = load(spark, sf_dir, "events").filter(F.col("value") >= 480)
    daily = ev.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v")
    )
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date")
            )
        ).alias("d")
    )
    ty = spark.createDataFrame([(t,) for t in EVENT_TYPES], "event_type string")
    grid = cal.crossJoin(F.broadcast(ty))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(daily), ["d", "event_type"], "left")
        .select(
            "d",
            "event_type",
            F.last("v", ignorenulls=True).over(w).cast("long").alias("v_filled"),
        )
    )


@query(
    "q_dedup_window",
    oracle="""
WITH b AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr
  FROM events
)
SELECT event_id, user_id, event_type, es
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, hr
                                   ORDER BY es, event_id) AS rn
      FROM b)
WHERE rn = 1
""",
)
def q_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed deduplication: keep only the FIRST event per
    (user, type) within each hour bucket — the batch twin of streaming
    ``dropDuplicatesWithinWatermark`` (q_stream_dedup holds the
    streaming form), and the standard at-least-once-ingest repair:
    retries and producer re-sends land in the same window and collapse
    to one row.

    Shape: one shuffle on (user, type, hour) and a per-group first-row
    window — per-key state is one row, and the hour bucket bounds how
    long any key's state lives, exactly like a watermark bounds the
    streaming version. At 100 TB this is a single exchange of narrow
    rows; the windowed key keeps any hot (user, type) pair from
    concentrating more than one hour of its traffic in one task."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    # floor-division bucket (not `DIV`, which truncates toward zero) so
    # pre-epoch timestamps land in the same hour as the oracle's
    # floor(es / 3600) — identical for the post-1970 fixture, but the
    # operator shouldn't depend on that.
    w = Window.partitionBy(
        "user_id", "event_type", F.floor(F.col("es") / 3600).cast("long")
    ).orderBy("es", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "es")
    )


@query(
    "q_outliers_mad",
    oracle="""
WITH base AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
m AS (
  SELECT event_type, CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS med2
  FROM base GROUP BY event_type
),
d AS (
  SELECT base.event_id, base.event_type, c, med2, abs(2 * c - med2) AS dd
  FROM base JOIN m USING (event_type)
),
s AS (
  SELECT event_type, CAST(2 * quantile_cont(dd, 0.5) AS BIGINT) AS mad_d2
  FROM d GROUP BY event_type
)
SELECT event_id, d.event_type, c AS cents, med2, mad_d2
FROM d JOIN s USING (event_type)
WHERE 4 * dd > 9 * mad_d2
""",
)
def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection — the resistant twin of
    q_outliers_zscore: mean and stddev are themselves dragged by the
    outliers they're meant to find (the fixture's value distribution
    is right-skewed, median 35 vs max 490), so production anomaly
    screens use deviation from the MEDIAN in units of the median
    absolute deviation. Flagged: |c - med| > 2.25·MAD (the 9/4 ratio
    keeps the test in pure integers and splits this corpus at ~5%;
    the conventional 3·1.4826·MAD normal-consistent form is the same
    plan with a different literal).

    Exactness without floats: values become integer cents; each
    median of integers interpolates to a multiple of 1/2, so DOUBLING
    it (med2 = 2·median(c), mad_d2 = 2·median(|2c - med2|)) is an
    exact integer in both engines, and the threshold clears all
    denominators into 4·dd > 9·mad_d2 — no boundary can disagree.

    Shape: two grouped exact-percentile aggregations (each an
    object-hash aggregate over the 5 event types) with the tiny
    per-type stats broadcast back onto the scan between them; the
    row set never shuffles. At 100 TB the exact medians swap for
    approx_percentile sketches (map-side-combinable, one narrow pass
    each) — the q_agg_percentile precedent — with the same plan."""
    base = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    m = base.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(c, 0.5) AS BIGINT)").alias("med2")
    )
    d = base.join(F.broadcast(m), "event_type").withColumn(
        "dd", F.abs(2 * F.col("c") - F.col("med2"))
    )
    s = d.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(dd, 0.5) AS BIGINT)").alias("mad_d2")
    )
    return (
        d.join(F.broadcast(s), "event_type")
        .filter(4 * F.col("dd") > 9 * F.col("mad_d2"))
        .select("event_id", "event_type", F.col("c").alias("cents"), "med2", "mad_d2")
    )


# Journey alphabet for the CEP-style pattern query: one char per event
# type, applied identically in both engines.
_EV_CHAR_SQL = (
    "CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' "
    "WHEN 'view' THEN 'v' ELSE '?' END"
)
# signup, any clicks/views, purchase — a conversion run with no
# intervening error or second signup. Greedy and non-overlapping in
# both engines' regex scan, so counts agree by construction.
EV_PATTERN = "s[cv]*p"


@query(
    "q_event_pattern",
    oracle=f"""
WITH j AS (
  SELECT user_id,
         string_agg({_EV_CHAR_SQL}, '' ORDER BY ts, event_id) AS journey,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, journey,
       CAST(len(regexp_extract_all(journey, '{EV_PATTERN}')) AS BIGINT) AS n_conv
FROM j
""",
)
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    batch form of CEP / SQL MATCH_RECOGNIZE: each user's events become
    a chronological character string (one char per event type,
    (ts, event_id) as the total order so ties can't reorder between
    engines), and the pattern `{EV_PATTERN}` — signup, any number of
    clicks/views, purchase — is counted with non-overlapping regex
    scan semantics. Unlike q_funnel (first-occurrence min-chain) this
    counts EVERY completed conversion run and exposes the journey
    itself for downstream mining.

    100 TB shape: ONE user-keyed shuffle of (ts, event_id, char)
    triples — the payload is three narrow columns, never full rows;
    per-user state is that user's journey string (bounded by personal
    activity; a bot user with millions of events gets the same
    chunked-journey treatment streaming CEP engines apply — split on
    session gaps first via q_sessionize, same plan). The regex runs
    JVM-side per row on the aggregated string — no Python."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.expr(_EV_CHAR_SQL).alias("ch")
    )
    j = ev.groupBy("user_id").agg(
        # listagg WITHIN GROUP mirrors the oracle's ordered string_agg
        # term-for-term and never materializes the (ts, id, ch) struct
        # array a collect_list+array_sort detour would (precedent:
        # q_agg_listagg).
        F.expr(
            "listagg(ch, '') WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("journey"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return j.select(
        "user_id",
        "n_events",
        "journey",
        F.expr(f"regexp_count(journey, '{EV_PATTERN}')").cast("long").alias("n_conv"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user
# ---------------------------------------------------------------------------


@query(
    "q_time_weighted_avg",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
),
seg AS (
  SELECT user_id, v_c,
         lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id) - es AS dt
  FROM base
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(dt) AS BIGINT) AS span_s,
       CAST(sum(v_c * dt) // sum(dt) AS BIGINT) AS twap_c
FROM seg
WHERE dt IS NOT NULL AND dt > 0
GROUP BY user_id
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the financial /
    IoT aggregate where a reading holds until the next one): each
    event's value is weighted by the seconds until the user's next
    event, so long-held states dominate regardless of sampling rate —
    the plain mean is wrong whenever event spacing is uneven, which is
    always. Zero-length segments (same-second events) carry no time
    and are excluded on both engines; the last event has no successor
    and ends the observation window.

    Integer discipline: epochs floor to seconds (q_sessionize's
    convention), values to centi-units, so the weighted numerator
    Σ v_c·dt and denominator Σ dt are exact BIGINTs and the TWAP is
    one integer floor-division. Ceiling: v_c·dt per segment ≤ 5e4·3e6
    ≈ 1.5e11, int64 holds ~6e7 segments per user — far past any real
    per-user event count.

    Shape: ONE user-keyed exchange feeds the lead() window; the
    per-user aggregate reuses the same partitioning (no second
    fact-scale shuffle — the q_tpch_q21 round-6 discipline)."""
    base = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_c"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    seg = base.select(
        "user_id",
        "v_c",
        (F.lead("es").over(w) - F.col("es")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return seg.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("dt").cast("long").alias("span_s"),
        F.expr("CAST(sum(v_c * dt) DIV sum(dt) AS BIGINT)").alias("twap_c"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily event-count series
# ---------------------------------------------------------------------------


@query(
    "q_ts_autocorr",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY d
),
pairs AS (
  SELECT n AS x, lead(n) OVER (ORDER BY d) AS y,
         CAST(lead(d) OVER (ORDER BY d) - d AS BIGINT) AS gap
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs WHERE y IS NOT NULL AND gap = 1
)
SELECT m AS n_pairs,
       CAST(round((m * sxy - sx * sy) * 1.0
                  / sqrt((m * sxx - sx * sx) * 1.0 * (m * syy - sy * sy))
                  * 1000000) AS BIGINT) AS acf1_micro
FROM m
""",
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series — the
    first seasonality/trend screen of time-series monitoring (white
    noise ⇒ ~0; momentum/trend ⇒ positive; alternating load ⇒
    negative). Pairs are STRICTLY consecutive days (calendar gap = 1);
    a missing day breaks the chain rather than silently correlating
    across it.

    Engine stability: daily counts are exact BIGINTs, all five
    regression moments are exact BIGINT sums, and the Pearson r over
    them is ONE double expression (two multiplies, one sqrt, one
    divide — IEEE sqrt is correctly rounded, so both engines compute
    the identical double) rounded to integer micros: the
    q_chi2_independence discipline with a sqrt in the expression.

    Shape: the fact collapses to ≤|days| rows map-side; the lead()
    window and the final reduce run over that tiny series. At 100 TB
    only the first aggregate touches the corpus."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.orderBy("d")
    pairs = daily.select(
        F.col("n").alias("x"),
        F.lead("n").over(w).alias("y"),
        F.datediff(F.lead("d").over(w), F.col("d")).cast("long").alias("gap"),
    ).filter(F.col("y").isNotNull() & (F.col("gap") == 1))
    m = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        F.col("m").alias("n_pairs"),
        F.expr(
            "CAST(round((m * sxy - sx * sy) * 1.0"
            " / sqrt((m * sxx - sx * sx) * 1.0 * (m * syy - sy * sy))"
            " * 1000000) AS BIGINT)"
        ).alias("acf1_micro"),
    )


# ---------------------------------------------------------------------------
# Daily-revenue series kit: rolling median, EWMA, CUSUM changepoint
# ---------------------------------------------------------------------------

_DUCK_DAILY_CENTS = """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) revenue in exact integer cents — the
    shared series builder of the three queries below (one definition,
    so the quantization rule can't drift between them). Map-side
    combinable; the fact collapses to ≤|types|·|days| rows before any
    window runs."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("yc")
        )
    )


ROLLMED_W = 7  # trailing window length in observations


@query(
    "q_ts_rolling_median",
    oracle=f"""
WITH {_DUCK_DAILY_CENTS},
fr AS (
  SELECT event_type, d,
         list_sort(list(yc) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN {ROLLMED_W - 1} PRECEDING AND CURRENT ROW)) AS l
  FROM daily
)
SELECT event_type, d,
       CAST(l[(len(l) - 1) // 2 + 1] + l[len(l) // 2 + 1] AS BIGINT) AS med2x
FROM fr
""",
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {ROLLMED_W}-observation rolling MEDIAN of the daily
    revenue series per event type — the robust smoother operations
    dashboards run where a rolling mean would chase one spiky day.
    Reported as the DOUBLED lower+upper median (med2x = sorted[(n−1)/2]
    + sorted[n/2], 0-indexed), which is exact integer for both odd and
    even partial windows at the series head — no engine ever averages
    two middles in floating point.

    Shape: the corpus collapses map-side to the daily series
    (_daily_cents); the frame sort handles K={ROLLMED_W} values per
    row — collect_list over a ROWS frame is O(K log K) per output row
    on series rows only, never on the fact table. At 100 TB the only
    fact-scale work is the first aggregate; rolling state is bounded
    by the frame constant."""
    daily = _daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(ROLLMED_W - 1), Window.currentRow)
    )
    fr = daily.select(
        "event_type", "d", F.array_sort(F.collect_list("yc").over(w)).alias("l")
    )
    return fr.select(
        "event_type",
        "d",
        F.expr(
            "CAST(element_at(l, CAST((size(l) - 1) DIV 2 + 1 AS INT))"
            " + element_at(l, CAST(size(l) DIV 2 + 1 AS INT)) AS BIGINT)"
        ).alias("med2x"),
    )


EWMA_K = 8  # truncation depth; alpha = 1/2 so weights are 2^(K-1-k)


def _ewma_terms(lag_sql: str) -> tuple[str, str]:
    """SQL text for the truncated-EWMA numerator/denominator given a
    ``lag_sql.format(k)`` template producing the k-back series value.
    Shared shape for both engines; weights 2^(K−1−k) are exact ints."""
    num = " + ".join(
        f"(CASE WHEN {lag_sql.format(k=k)} IS NULL THEN 0 "
        f"ELSE {lag_sql.format(k=k)} * {1 << (EWMA_K - 1 - k)} END)"
        for k in range(EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_sql.format(k=k)} IS NULL THEN 0 "
        f"ELSE {1 << (EWMA_K - 1 - k)} END)"
        for k in range(EWMA_K)
    )
    return num, den


_EWMA_NUM_DUCK, _EWMA_DEN_DUCK = _ewma_terms(
    "lag(yc, {k}) OVER (PARTITION BY event_type ORDER BY d)"
)


@query(
    "q_ts_ewma",
    oracle=f"""
WITH {_DUCK_DAILY_CENTS},
t AS (
  SELECT event_type, d,
         CAST({_EWMA_NUM_DUCK} AS BIGINT) AS ewma_num,
         CAST({_EWMA_DEN_DUCK} AS BIGINT) AS ewma_den
  FROM daily
)
SELECT event_type, d, ewma_num, ewma_den,
       CAST(ewma_num * 1000 // ewma_den AS BIGINT) AS ewma_milli
FROM t
""",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 1/2) of the daily
    revenue series per event type, truncated at K={EWMA_K} trailing
    observations — the smoother behind anomaly baselines and
    forecasting warm-starts. The truncation is what makes the operator
    DISTRIBUTABLE AND EXACT: untruncated EWMA is a sequential
    recurrence (each row needs the full prefix), while the K-term form
    is a fixed linear combination of K lags — pure window functions,
    integer weights 2^(K−1−k), and a 2^-K ≈ 0.4% tail error bound
    that is the standard production trade.

    Integer discipline: numerator Σ yc_{{t−k}}·2^(K−1−k) and
    denominator Σ 2^(K−1−k) (present lags only, so series heads
    renormalize instead of decaying toward zero) are exact BIGINTs;
    the milli-cent EWMA is one integer floor division.

    Shape: one series-keyed window partition evaluates all K lags in
    a single pass over the daily rows (Catalyst collapses same-spec
    lag()s into one WindowExec); the fact table is touched only by
    _daily_cents."""
    daily = _daily_cents(spark, sf_dir)
    num_sql, den_sql = _ewma_terms("lag(yc, {k}) OVER w")
    daily.createOrReplaceTempView("__ewma_daily")
    return spark.sql(
        f"""
SELECT event_type, d,
       CAST({num_sql} AS BIGINT) AS ewma_num,
       CAST({den_sql} AS BIGINT) AS ewma_den,
       CAST(CAST({num_sql} AS BIGINT) * 1000 DIV CAST({den_sql} AS BIGINT) AS BIGINT) AS ewma_milli
FROM __ewma_daily
WINDOW w AS (PARTITION BY event_type ORDER BY d)
"""
    )


@query(
    "q_ts_cusum",
    oracle=f"""
WITH {_DUCK_DAILY_CENTS},
c AS (
  SELECT event_type, d,
         sum(yc) OVER (PARTITION BY event_type ORDER BY d) AS cum,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
         sum(yc) OVER (PARTITION BY event_type) AS s,
         count(*) OVER (PARTITION BY event_type) AS t
  FROM daily
),
x AS (
  SELECT event_type, d, abs(t * cum - rn * s) AS absd, t, s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(t * cum - rn * s) DESC, d) AS pick
  FROM c
)
SELECT event_type, d AS cp_day, CAST(absd AS BIGINT) AS dmax,
       CAST(t AS BIGINT) AS t_days,
       CAST(absd * 10000 // (t * s) AS BIGINT) AS cusum_bp
FROM x WHERE pick = 1
""",
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen on the daily revenue series per event
    type: the day t maximizing |T·C_t − t·S| — the scale-cleared form
    of the classic max |C_t − (t/T)·S| cumulative-deviation statistic
    (a level shift at day t* makes the cumulative sum bow out farthest
    there). Reports the argmax day, the raw deviation, and its
    normalized magnitude in basis points of T·S.

    Integer discipline: clearing the t/T and S/T fractions keeps every
    deviation an exact (big) integer — no float appears anywhere, so
    ties break identically on both engines via the explicit
    (deviation DESC, day ASC) pick order.

    Shape: the fact collapses to the daily series; the cumulative and
    total windows share ONE series-keyed exchange, and the argmax is a
    row_number pick over ≤|days| rows per type. The 100 TB cost is the
    first aggregate, full stop."""
    daily = _daily_cents(spark, sf_dir)
    wcum = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("event_type")
    c = daily.select(
        "event_type",
        "d",
        F.sum("yc").over(wcum).alias("cum"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("d")).alias("rn"),
        F.sum("yc").over(wall).alias("s"),
        F.count("*").over(wall).alias("t"),
    )
    x = c.select(
        "event_type",
        "d",
        F.abs(F.col("t") * F.col("cum") - F.col("rn") * F.col("s")).alias("absd"),
        "t",
        "s",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("t") * F.col("cum") - F.col("rn") * F.col("s")).desc(),
                F.col("d").asc(),
            )
        )
        .alias("pick"),
    )
    return x.filter(F.col("pick") == 1).select(
        "event_type",
        F.col("d").alias("cp_day"),
        F.col("absd").cast("long").alias("dmax"),
        F.col("t").cast("long").alias("t_days"),
        F.expr("CAST(absd * 10000 DIV (t * s) AS BIGINT)").alias("cusum_bp"),
    )


@query(
    "q_seasonality_dow",
    oracle="""
WITH dd AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, dow
),
t AS (
  SELECT event_type, dow, o,
         CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY o DESC, dow) AS pick
  FROM dd
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(sum((7 * o - n) * (7 * o - n)) * 1000000 // (7 * max(n) * 7) AS BIGINT)
         AS chi2_micro,
       CAST(max(CASE WHEN pick = 1 THEN dow END) AS BIGINT) AS peak_dow,
       CAST(max(CASE WHEN pick = 1 THEN o END) AS BIGINT) AS peak_cnt
FROM t
GROUP BY event_type
""",
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality screen per event type: the χ² statistic
    of the observed weekday histogram against uniform, plus the peak
    weekday — "is this metric weekly-periodic, and where is the peak"
    (load shaping, alert-threshold scheduling). Weekday is the
    epoch-day mod 7 (0 = Thursday) — identical arithmetic on both
    engines, immune to locale/ISO dayofweek disagreements.

    ALL-integer χ²: with uniform expected e = n/7, χ² = Σ(o−e)²/e =
    Σ(7o−n)² / (7n) after clearing denominators — the numerator is an
    exact BIGINT sum over the 7 weekday cells, so χ² in (floored)
    micro-units is one integer division. No double exists anywhere in
    this query. Peak picks deterministically via (count DESC, dow).

    Shape: the fact collapses map-side to ≤|types|·7 cells; windows
    and the final aggregate run over those cells only."""
    ev = load(spark, sf_dir, "events")
    dd = ev.groupBy(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long")
            % 7
        ).alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    t = dd.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("long").alias("n"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(F.desc("o"), F.asc("dow"))
        )
        .alias("pick"),
    )
    return t.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "CAST(sum((7 * o - n) * (7 * o - n)) * 1000000 DIV (7 * max(n) * 7)"
            " AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr("CAST(max(CASE WHEN pick = 1 THEN dow END) AS BIGINT)").alias(
            "peak_dow"
        ),
        F.expr("CAST(max(CASE WHEN pick = 1 THEN o END) AS BIGINT)").alias(
            "peak_cnt"
        ),
    )


@query(
    "q_theil_sen",
    oracle=f"""
WITH {_DUCK_DAILY_CENTS},
dx AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS x, yc
  FROM daily
),
sl AS (
  SELECT a.event_type,
         CAST(b.yc - a.yc AS DOUBLE) / (b.x - a.x) AS s
  FROM dx a JOIN dx b ON a.event_type = b.event_type AND a.x < b.x
),
r AS (
  SELECT event_type, s,
         row_number() OVER (PARTITION BY event_type ORDER BY s, event_type) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM sl
)
SELECT event_type, CAST(max(m) AS BIGINT) AS m_pairs,
       CAST(round(1000000 * (max(CASE WHEN rn = (m - 1) // 2 + 1 THEN s END)
                 + max(CASE WHEN rn = m // 2 + 1 THEN s END)) / 2) AS BIGINT)
         AS ts_slope_micro
FROM r
GROUP BY event_type
""",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event type: the MEDIAN of
    all pairwise daily-revenue slopes — the regression that shrugs off
    the outlier days that drag q_ols_trend's least-squares line (up to
    ~29% contamination). The robust complement to the OLS row, same
    series, directly comparable slope units (cents/day, micro-scaled).

    Pairwise-after-collapse: the all-pairs stage runs on the DAILY
    series (≤|days| rows per type), so its quadratic is |days|² —
    bounded by the calendar, NOT by N. That is the general scale rule
    for pairwise statistics: collapse first, then pair (the
    q_rerank_mmr pool² discipline).

    Engine stability: each slope Δyc/Δx is one mirrored double from
    exact integers — identical IEEE values on both engines, so the
    ORDER BY s rank permutation is identical (ties are identical
    doubles; any rank assignment within a tie selects the same VALUE
    for the median pick). The doubled lower+upper median average and
    micro rounding are single mirrored ops."""
    daily = _daily_cents(spark, sf_dir)
    dx = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "yc",
    )
    a = dx.select("event_type", F.col("x").alias("xa"), F.col("yc").alias("ya"))
    b = dx.select("event_type", F.col("x").alias("xb"), F.col("yc").alias("yb"))
    sl = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            F.expr("CAST(yb - ya AS DOUBLE) / (xb - xa)").alias("s"),
        )
    )
    r = sl.select(
        "event_type",
        "s",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("s", "event_type"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).cast("long").alias("m"),
    )
    return r.groupBy("event_type").agg(
        F.max("m").cast("long").alias("m_pairs"),
        F.expr(
            "CAST(round(1000000 * (max(CASE WHEN rn = (m - 1) DIV 2 + 1 THEN s END)"
            " + max(CASE WHEN rn = m DIV 2 + 1 THEN s END)) / 2) AS BIGINT)"
        ).alias("ts_slope_micro"),
    )


# ---------------------------------------------------------------------------
# DAU / trailing-7-day WAU (sliding-window distinct users)
# ---------------------------------------------------------------------------

_EPOCH_DAY_DUCK = "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)"


@query(
    "q_active_users",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT {_EPOCH_DAY_DUCK} AS dnum, user_id FROM events
),
bounds AS (SELECT min(dnum) AS mn, max(dnum) AS mx FROM du),
tw AS (
  SELECT DISTINCT du.dnum + i.i AS tday, du.user_id
  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i
),
wau AS (
  SELECT tday, CAST(count(*) AS BIGINT) AS wau
  FROM tw, bounds WHERE tday BETWEEN mn AND mx GROUP BY tday
),
dau AS (SELECT dnum AS tday, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY dnum)
SELECT w.tday AS dnum, CAST(coalesce(d.dau, 0) AS BIGINT) AS dau, w.wau,
       CAST(coalesce(d.dau, 0) * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
FROM wau w LEFT JOIN dau d ON d.tday = w.tday
ORDER BY dnum
""",
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU and trailing-7-day WAU (distinct active users), plus
    the DAU/WAU stickiness ratio — the engagement report every event
    pipeline lands on a dashboard.

    COUNT(DISTINCT) OVER a sliding frame isn't a window Spark (or
    SQL) supports, and re-scanning 7 days per output day is 7× the
    work. The scale-safe identity: a (day, user) activity grain
    contributes that user to the windows of exactly days d..d+6, so
    exploding each distinct (day, user) to its 7 target days and
    de-duplicating per target day yields the sliding distinct count
    with a BOUNDED ×7 expansion of the already-collapsed daily grain
    (≤ |users|·|days| rows, never the raw event count).

    Engine stability: day numbers are epoch-day integers, counts are
    exact, and stickiness is BIGINT ppm division — no doubles at all.

    Shape: events collapse map-side to the (day, user) grain; the ×7
    explode and second distinct shuffle only that grain; the DAU leg
    joins on day (tiny). At 100 TB the daily-grain table is what
    shuffles — days × users, orders of magnitude below the fact."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("dnum"),
        "user_id",
    ).distinct()
    bounds = du.agg(F.min("dnum").alias("mn"), F.max("dnum").alias("mx"))
    tw = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "dnum", "user_id"
        )
        .select((F.col("dnum") + F.col("i")).alias("tday"), "user_id")
        .distinct()
    )
    wau = (
        tw.crossJoin(F.broadcast(bounds))
        .filter((F.col("tday") >= F.col("mn")) & (F.col("tday") <= F.col("mx")))
        .groupBy("tday")
        .agg(F.count("*").cast("long").alias("wau"))
    )
    dau = du.groupBy(F.col("dnum").alias("tday")).agg(
        F.count("*").cast("long").alias("dau")
    )
    return (
        wau.join(dau, "tday", "left")
        .select(
            F.col("tday").alias("dnum"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            "wau",
            F.expr("CAST(coalesce(dau, 0) * 1000000 DIV wau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("dnum")
    )


# ---------------------------------------------------------------------------
# Hourly rate-spike detection (trailing-24h z-score on counts)
# ---------------------------------------------------------------------------

SPIKE_BASE_H = 24  # trailing baseline window, hours (excludes current)
SPIKE_Z_MICRO = 2_000_000  # flag threshold: |z| >= 2 in micro units

# Mirrored z expression over exact integer window sums (c = current
# count, sw/sww = trailing sum / sum of squares over exactly 24 hours).
_SPIKE_Z = (
    "CAST(round(1000000 * ((CAST(c AS DOUBLE) - CAST(sw AS DOUBLE) / 24) "
    "/ sqrt((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw / 24) / 23))) AS BIGINT)"
)


@query(
    "q_rate_spike",
    oracle=f"""
WITH b AS (
  SELECT min({_EPOCH_DAY_DUCK} * 24 + hour(ts)) AS mn,
         max({_EPOCH_DAY_DUCK} * 24 + hour(ts)) AS mx
  FROM events
),
cnt AS (
  SELECT event_type, {_EPOCH_DAY_DUCK} * 24 + hour(ts) AS ehour,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, g.ehour, coalesce(cnt.c, 0) AS c
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(mn, mx + 1)) AS ehour FROM b) g
  LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.ehour = g.ehour
),
w AS (
  SELECT event_type, ehour, c,
         CAST(sum(c) OVER tw AS BIGINT) AS sw,
         CAST(sum(c * c) OVER tw AS BIGINT) AS sww,
         CAST(count(*) OVER tw AS BIGINT) AS nw
  FROM grid
  WINDOW tw AS (PARTITION BY event_type ORDER BY ehour
                ROWS BETWEEN {SPIKE_BASE_H} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, ehour, c, sw AS base_sum, {_SPIKE_Z} AS z_micro
FROM w
WHERE nw = {SPIKE_BASE_H} AND 24 * sww > sw * sw
  AND abs({_SPIKE_Z}) >= {SPIKE_Z_MICRO}
ORDER BY event_type, ehour
""",
)
def q_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly ingest-rate anomaly detection per event type: z-score of
    each hour's event count against its trailing-24-hour baseline,
    flagging |z| ≥ 2 — the rate monitor an operator points at a Kafka
    topic to catch producer outages (negative spikes) and retry storms
    (positive) before they hit the sink.

    Missing hours COUNT: the hour grid is completed from the broadcast
    min/max hour with zero-fill before windowing, so a silent hour
    drags the baseline and is itself flaggable — a counts-only
    baseline over observed rows would hide exactly the incidents this
    exists to catch.

    Engine stability: hours are epoch-hour integers, counts and both
    window moments are exact BIGINTs over an exactly-24-row frame; z
    is ONE mirrored double expression micro-rounded, the flag compares
    that INTEGER against {SPIKE_Z_MICRO}, and zero-variance baselines
    are excluded by the integer predicate 24·Σc² > (Σc)² — no float
    ever decides a row's membership.

    Shape: the fact collapses map-side to (type, hour) cells; the
    grid, windows, and filter run over |types|·|hours| rows — bounded
    by calendar time, not event volume. At 100 TB of events this is
    one aggregation shuffle plus arithmetic on a few thousand cells."""
    ev = load(spark, sf_dir, "events")
    ehour = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long") * 24
        + F.hour("ts")
    ).alias("ehour")
    b = ev.select(ehour).agg(
        F.min("ehour").alias("mn"), F.max("ehour").alias("mx")
    )
    cnt = ev.groupBy("event_type", ehour).agg(F.count("*").cast("long").alias("c"))
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(
            F.broadcast(b).select(
                F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("ehour")
            )
        )
        .join(cnt, ["event_type", "ehour"], "left")
        .select("event_type", "ehour", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("ehour")
        .rowsBetween(-SPIKE_BASE_H, -1)
    )
    w = grid.select(
        "event_type",
        "ehour",
        "c",
        F.sum("c").over(tw).cast("long").alias("sw"),
        F.sum(F.col("c") * F.col("c")).over(tw).cast("long").alias("sww"),
        F.count("*").over(tw).cast("long").alias("nw"),
    )
    return (
        w.filter(
            (F.col("nw") == SPIKE_BASE_H)
            & (24 * F.col("sww") > F.col("sw") * F.col("sw"))
            & (F.abs(F.expr(_SPIKE_Z)) >= SPIKE_Z_MICRO)
        )
        .select(
            "event_type",
            "ehour",
            "c",
            F.col("sw").alias("base_sum"),
            F.expr(_SPIKE_Z).alias("z_micro"),
        )
        .orderBy("event_type", "ehour")
    )


# ---------------------------------------------------------------------------
# Interval union / activity coverage (gaps-and-islands over spans)
# ---------------------------------------------------------------------------

DWELL_SECS = 3600  # each event opens a [ts, ts+1h) activity interval


@query(
    "q_interval_union",
    oracle=f"""
WITH pts AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
flag AS (
  SELECT user_id, event_id, es,
         CASE WHEN max(es + {DWELL_SECS}) OVER (
                PARTITION BY user_id ORDER BY es, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > es
              THEN 0 ELSE 1 END AS new_island
  FROM pts
),
isl AS (
  SELECT user_id, es,
         CAST(sum(new_island) OVER (
           PARTITION BY user_id ORDER BY es, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
  FROM flag
),
agg AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(es) + {DWELL_SECS} - min(es) AS BIGINT) AS span
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(span) AS BIGINT) AS coverage_secs
FROM agg GROUP BY user_id
ORDER BY user_id
""",
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: every event opens a [ts, ts+1h)
    activity span; overlapping spans merge into islands and the total
    covered seconds is the user's activity coverage — the
    heartbeat-to-session-time measure (billing meters, engagement
    time) that a naive SUM of dwell would double-count wherever events
    overlap. The classic gaps-and-islands: an event starts a new
    island iff the running max of all previous interval ENDS does not
    reach it (strict overlap merges; a span starting exactly at the
    previous end is adjacent, not overlapping, and opens a new
    island).

    Engine stability: all integer epoch-seconds arithmetic; the
    running max and the island-id running sum use (es, event_id) as a
    total order so ties can't reorder across engines.

    Shape: two per-user windows (Kafka-partition-style bounded state,
    shuffled once on user_id) and two hash aggregations; nothing
    global, nothing quadratic. At 100 TB: one user-keyed exchange."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flag = pts.select(
        "user_id",
        "event_id",
        "es",
        F.when(
            F.max(F.col("es") + DWELL_SECS).over(wprev) > F.col("es"), 0
        )
        .otherwise(1)
        .alias("new_island"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = flag.select(
        "user_id", "es", F.sum("new_island").over(wrun).cast("long").alias("island")
    )
    agg = isl.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("es") + DWELL_SECS - F.min("es")).cast("long").alias("span"),
    )
    return (
        agg.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_islands"),
            F.sum("span").cast("long").alias("coverage_secs"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Time-bounded conversion funnel (signup → purchase within 24 h)
# ---------------------------------------------------------------------------

CONV_WINDOW_SECS = 86400


@query(
    "q_funnel_window",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) OVER (
           PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase
  FROM events
  WHERE event_type IN ('signup', 'purchase')
),
s AS (
  SELECT es // 86400 AS dnum,
         CASE WHEN next_purchase IS NOT NULL
                   AND next_purchase - es <= {CONV_WINDOW_SECS}
              THEN 1 ELSE 0 END AS conv
  FROM seq WHERE event_type = 'signup'
)
SELECT CAST(dnum AS BIGINT) AS dnum,
       CAST(count(*) AS BIGINT) AS n_signups,
       CAST(sum(conv) AS BIGINT) AS n_conv,
       CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS cvr_ppm
FROM s GROUP BY dnum
ORDER BY dnum
""",
)
def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: of the signups on each day, how
    many converted to a purchase within 24 hours — the windowed
    conversion-rate report (unlike q_funnel's unbounded strict-order
    funnel, the business question here is "did they convert FAST").

    The per-signup lookup of the next purchase is NOT a join: one
    ordered pass per user with a forward-looking min window (rows
    1 FOLLOWING → ∞) picks each signup's earliest strictly-later
    purchase — signup and purchase rows share the same (es, event_id)
    total order, so a same-second purchase counts only via the
    event_id tiebreak, identically in both engines.

    Engine stability: epoch seconds, day numbers, and the 24 h bound
    are all integer comparisons; conversion rate is BIGINT ppm.

    Shape: one user-keyed exchange for the window, then a day-keyed
    aggregation of signup rows only. At 100 TB: the same single
    exchange every per-user sequence op in this module pays."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    es = F.floor(F.unix_timestamp("ts")).cast("long")
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    seq = ev.select(
        "user_id", "event_id", "event_type", es.alias("es")
    ).withColumn(
        "next_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("es"))
        ).over(wnext),
    )
    s = seq.filter(F.col("event_type") == "signup").select(
        F.expr("es DIV 86400").alias("dnum"),
        F.when(
            F.col("next_purchase").isNotNull()
            & (F.col("next_purchase") - F.col("es") <= CONV_WINDOW_SECS),
            1,
        )
        .otherwise(0)
        .alias("conv"),
    )
    return (
        s.groupBy(F.col("dnum").cast("long").alias("dnum"))
        .agg(
            F.count("*").cast("long").alias("n_signups"),
            F.sum("conv").cast("long").alias("n_conv"),
            F.expr("CAST(sum(conv) * 1000000 DIV count(*) AS BIGINT)").alias(
                "cvr_ppm"
            ),
        )
        .orderBy("dnum")
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test (value-sequence randomness screen)
# ---------------------------------------------------------------------------

# Normal-approximation z over exact integers (n, n1, runs; n2 = n−n1
# inline). One mirrored double expression, micro-rounded; guarded by
# the integer predicates n1>0, n−n1>0, 2·n1·(n−n1)>n (variance > 0).
_RUNS_Z = (
    "CAST(round(1000000 * ((CAST(runs AS DOUBLE) "
    "- (1 + 2 * CAST(n1 AS DOUBLE) * (n - n1) / n)) "
    "/ sqrt(2 * CAST(n1 AS DOUBLE) * (n - n1) "
    "* (2 * CAST(n1 AS DOUBLE) * (n - n1) - n) "
    "/ (CAST(n AS DOUBLE) * n * (n - 1))))) AS BIGINT)"
)


@query(
    "q_runs_test",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc
  FROM base GROUP BY event_type
),
s AS (
  SELECT b.event_type, b.es, b.event_id,
         CASE WHEN m.n * b.c > m.sc THEN 1 ELSE 0 END AS s
  FROM base b JOIN m ON m.event_type = b.event_type
),
ch AS (
  SELECT event_type, s,
         CASE WHEN lag(s) OVER w IS NOT NULL AND lag(s) OVER w <> s
              THEN 1 ELSE 0 END AS chg
  FROM s
  WINDOW w AS (PARTITION BY event_type ORDER BY es, event_id)
),
t AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(1 + sum(chg) AS BIGINT) AS runs
  FROM ch GROUP BY event_type
)
SELECT event_type, n, n1, runs,
       CASE WHEN n1 > 0 AND n - n1 > 0 AND 2 * n1 * (n - n1) > n
            THEN {_RUNS_Z} END AS z_micro
FROM t
ORDER BY event_type
""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the sequence of
    above-mean / below-mean values (in time order) random, or does it
    cluster (too few runs ⇒ regime persistence / level shifts) or
    alternate (too many ⇒ negative autocorrelation)? The classic
    nonparametric randomness screen next to q_ts_autocorr's parametric
    one; "above" is STRICTLY above the per-type mean via the exact
    integer predicate n·c > Σc (ties count below).

    Scale shape: counting adjacent sign changes needs the full time
    order, but NOT one giant window — the Spark plan chunks by (type,
    day): within-day changes via lag inside bounded (type, day)
    partitions, plus day-boundary changes via a lag over the per-day
    first/last signs (first/last = min/max over (es, event_id, s)
    structs — order-unambiguous), a calendar-bounded second level.
    The oracle counts the same changes with one flat window — the
    decomposition is algebraically exact, so the two must agree to
    the integer. z is one mirrored double expression micro-rounded,
    NULL when the variance guard fails.

    At 100 TB: one type-keyed broadcast of means, one (type, day)
    exchange, then day-level arithmetic."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    m = base.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_t"),
        F.sum("c").cast("long").alias("sc"),
    )
    s = base.join(F.broadcast(m), "event_type").select(
        "event_type",
        "es",
        "event_id",
        F.expr("es DIV 86400").alias("dnum"),
        F.expr("CASE WHEN n_t * c > sc THEN 1 ELSE 0 END").alias("s"),
    )
    chg = s.withColumn(
        "chg",
        F.expr(
            "CASE WHEN lag(s) OVER (PARTITION BY event_type, dnum "
            "ORDER BY es, event_id) IS NOT NULL AND lag(s) OVER "
            "(PARTITION BY event_type, dnum ORDER BY es, event_id) <> s "
            "THEN 1 ELSE 0 END"
        ),
    )
    day = chg.groupBy("event_type", "dnum").agg(
        F.sum("chg").cast("long").alias("chg_sum"),
        F.min(F.struct("es", "event_id", "s")).getItem("s").alias("first_s"),
        F.max(F.struct("es", "event_id", "s")).getItem("s").alias("last_s"),
        F.sum("s").cast("long").alias("n1_d"),
        F.count("*").cast("long").alias("n_d"),
    )
    wdy = Window.partitionBy("event_type").orderBy("dnum")
    bnd = day.withColumn(
        "bnd",
        F.when(
            F.lag("last_s").over(wdy).isNotNull()
            & (F.lag("last_s").over(wdy) != F.col("first_s")),
            1,
        ).otherwise(0),
    )
    t = bnd.groupBy("event_type").agg(
        F.sum("n_d").cast("long").alias("n"),
        F.sum("n1_d").cast("long").alias("n1"),
        (1 + F.sum("chg_sum") + F.sum("bnd")).cast("long").alias("runs"),
    )
    return t.select(
        "event_type",
        "n",
        "n1",
        "runs",
        F.expr(
            f"CASE WHEN n1 > 0 AND n - n1 > 0 AND 2 * n1 * (n - n1) > n "
            f"THEN {_RUNS_Z} END"
        ).alias("z_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Burstiness / Fano factor of the hourly arrival process
# ---------------------------------------------------------------------------

# Mirrored population Fano factor over the zero-filled hour grid:
# mean = s/g, var = (g*ss - s^2)/g^2, fano = var/mean = (g*ss - s^2)/(g*s).
_FANO_MICRO = (
    "CAST(round(1000000 * (CAST(g AS DOUBLE) * ss - CAST(s AS DOUBLE) * s) "
    "/ (CAST(g AS DOUBLE) * s)) AS BIGINT)"
)


@query(
    "q_burstiness",
    oracle=f"""
WITH b AS (
  SELECT min({_EPOCH_DAY_DUCK} * 24 + hour(ts)) AS mn,
         max({_EPOCH_DAY_DUCK} * 24 + hour(ts)) AS mx
  FROM events
),
cnt AS (
  SELECT event_type, {_EPOCH_DAY_DUCK} * 24 + hour(ts) AS ehour,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss,
         CAST(count(*) AS BIGINT) AS nh
  FROM cnt GROUP BY event_type
)
SELECT event_type,
       g,
       s AS n_events, nh AS active_hours,
       CAST(nh * 1000000 // g AS BIGINT) AS occupancy_ppm,
       {_FANO_MICRO} AS fano_micro,
       CAST(g * ss - s * s > g * s AS INTEGER) AS overdispersed
FROM (SELECT m.*, CAST(mx - mn + 1 AS BIGINT) AS g FROM m CROSS JOIN b)
ORDER BY event_type
""",
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of each event type's hourly
    arrival counts over the corpus's full hour grid — the burstiness
    screen that separates Poisson-like steady producers (fano ≈ 1)
    from bursty retry/batch traffic (fano ≫ 1) and clamped schedulers
    (fano < 1); the stationary companion to q_rate_spike's pointwise
    z-alerts.

    Missing hours COUNT, without materializing the grid: zero-count
    hours contribute nothing to Σc or Σc², so both moments come from
    the observed (type, hour) cells alone and only the grid LENGTH
    g = max−min+1 (one broadcast min/max row) enters the formula —
    the zero-fill is algebraic, not physical.

    Engine stability: s, ss, nh, g are exact BIGINTs; fano is ONE
    mirrored double expression micro-rounded; the overdispersion flag
    is the pure-integer predicate g·Σc² − (Σc)² > g·Σc (variance >
    mean without any division); occupancy is BIGINT ppm division.

    Shape: the event log collapses map-side to (type, hour) cells,
    then to |types| moment rows. One aggregation shuffle at any scale;
    the grid length is calendar-bounded, so cell counts grow with
    time, not volume."""
    ev = load(spark, sf_dir, "events")
    ehour = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long") * 24
        + F.hour("ts")
    ).alias("ehour")
    b = ev.select(ehour).agg(F.min("ehour").alias("mn"), F.max("ehour").alias("mx"))
    cnt = ev.groupBy("event_type", ehour).agg(F.count("*").cast("long").alias("c"))
    m = cnt.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        F.count("*").cast("long").alias("nh"),
    )
    g = m.crossJoin(F.broadcast(b)).withColumn(
        "g", (F.col("mx") - F.col("mn") + 1).cast("long")
    )
    return g.select(
        "event_type",
        "g",
        F.col("s").alias("n_events"),
        F.col("nh").alias("active_hours"),
        F.expr("CAST(nh * 1000000 DIV g AS BIGINT)").alias("occupancy_ppm"),
        F.expr(_FANO_MICRO).alias("fano_micro"),
        F.expr("CAST(g * ss - s * s > g * s AS INTEGER)").alias("overdispersed"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Markov transition entropy of the event-type process
# ---------------------------------------------------------------------------

# Per-cell entropy term, micro-rounded BEFORE the per-source sum (the
# q_mutual_information ln discipline): p·ln p with p = c/nc from two
# exact BIGINTs.
_MARKOV_TERM = (
    "CAST(round(1000000 * (CAST(c AS DOUBLE) / nc) "
    "* ln(CAST(c AS DOUBLE) / nc)) AS BIGINT)"
)


@query(
    "q_markov_entropy",
    oracle=f"""
WITH seq AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
             ORDER BY floor(epoch(ts)), event_id) AS nxt
  FROM events
),
cells AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
m AS (
  SELECT cur, nxt, c,
         CAST(sum(c) OVER (PARTITION BY cur) AS BIGINT) AS nc
  FROM cells
)
SELECT cur AS cur_type,
       CAST(max(nc) AS BIGINT) AS n_trans,
       CAST(count(*) AS BIGINT) AS n_next,
       CAST(-sum({_MARKOV_TERM}) AS BIGINT) AS h_micro
FROM m GROUP BY cur ORDER BY cur
""",
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of each user's event-type
    Markov chain, in integer micro-nats per current state — the
    predictability profile of the clickstream (a state with h ≈ 0 has
    a deterministic successor worth prefetching; h near ln(|types|)
    means the next step is anyone's guess). Complements
    q_stream_transitions (which counts ONE pattern, streaming) with
    the full batch transition-matrix view.

    Transitions come from one lead() pass over the shared per-user
    (epoch-second, event_id) total order — the same order every
    sequence operator in this module uses, so a same-second pair
    resolves identically in both engines via the event_id tiebreak.

    Engine stability: transition counts and row marginals are exact
    BIGINTs; each cell's p·ln p is ONE mirrored double expression
    micro-rounded BEFORE the per-state sum, so hash-order summation
    operates on integers only.

    Shape: one user-keyed exchange for the lead window, then map-side
    collapse to ≤|types|² cells; everything after runs on ≤25 rows at
    any scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.floor(F.unix_timestamp("ts")).cast("long"), "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    cells = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("c"))
    )
    m = cells.select(
        "cur", "nxt", "c",
        F.sum("c").over(Window.partitionBy("cur")).cast("long").alias("nc"),
    )
    return (
        m.groupBy(F.col("cur").alias("cur_type"))
        .agg(
            F.max("nc").alias("n_trans"),
            F.count("*").cast("long").alias("n_next"),
            (-F.sum(F.expr(_MARKOV_TERM))).cast("long").alias("h_micro"),
        )
        .orderBy("cur_type")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (purchases credited to the preceding channel)
# ---------------------------------------------------------------------------

ATTR_WINDOW_SECS = 7 * 86_400  # lookback: credit expires after 7 days

# Sortable fixed-width encoding of a candidate touch: zero-padded epoch
# second (10 digits) + zero-padded event_id (12) + the channel name.
# max() over these strings IS "latest preceding touch" — an argmax
# without struct comparisons, identical lexicographic semantics in
# both engines.
_TOUCH_ENC = (
    "lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR), 10, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type"
)
_TOUCH_ENC_SPARK = (
    "lpad(CAST(CAST(floor(unix_timestamp(ts)) AS BIGINT) AS STRING), 10, '0') || "
    "lpad(CAST(event_id AS STRING), 12, '0') || event_type"
)


@query(
    "q_attribution",
    oracle=f"""
WITH seq AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         max(CASE WHEN event_type <> 'purchase' THEN {_TOUCH_ENC} END) OVER (
           PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
),
p AS (
  SELECT CASE WHEN touch IS NOT NULL
                   AND es - CAST(substr(touch, 1, 10) AS BIGINT) <= {ATTR_WINDOW_SECS}
              THEN substr(touch, 23) ELSE '(none)' END AS channel
  FROM seq WHERE event_type = 'purchase'
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT) AS share_ppm
FROM p GROUP BY channel ORDER BY channel
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the
    user's most recent preceding non-purchase event within a 7-day
    lookback ('(none)' when the trail is cold) — the marketing
    attribution report that decides channel budgets downstream of the
    reference's sink.

    The "latest preceding touch" is NOT a join or a second pass: each
    candidate touch is encoded as a fixed-width sortable string
    (zero-padded epoch second + zero-padded event_id + channel), and a
    running max() over the user's (epoch, event_id) order — frame
    UNBOUNDED PRECEDING..1 PRECEDING, so a purchase can't attribute to
    itself or a later event — IS the argmax, with identical
    lexicographic semantics in both engines (no struct-comparison
    portability risk). The 7-day expiry and the channel are decoded
    from the string by fixed offsets.

    Engine stability: epoch seconds, ids, and the window bound are all
    integers; string comparison of fixed-width zero-padded digits
    equals numeric comparison by construction; share_ppm is BIGINT
    division over exact counts.

    Shape: one user-keyed exchange shared by the single window pass,
    then a map-side collapse to ≤|types|+1 channels. At 100 TB: one
    shuffle of (user, es, event_id, type), constant-size output."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.floor(F.unix_timestamp("ts")).cast("long"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.max(
            F.when(F.col("event_type") != "purchase", F.expr(_TOUCH_ENC_SPARK))
        ).over(w).alias("touch"),
    )
    p = seq.filter(F.col("event_type") == "purchase").select(
        F.expr(
            f"CASE WHEN touch IS NOT NULL"
            f" AND es - CAST(substr(touch, 1, 10) AS BIGINT) <= {ATTR_WINDOW_SECS}"
            f" THEN substr(touch, 23) ELSE '(none)' END"
        ).alias("channel")
    )
    cnt = p.groupBy("channel").agg(F.count("*").cast("long").alias("n_purchases"))
    return cnt.select(
        "channel",
        "n_purchases",
        F.expr(
            "CAST(n_purchases * 1000000 DIV sum(n_purchases) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak (gaps-and-islands)
# ---------------------------------------------------------------------------


@query(
    "q_streak_longest",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
isl AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM ud
),
st AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY user_id, grp
),
mx AS (SELECT user_id, CAST(max(len) AS BIGINT) AS streak FROM st GROUP BY user_id)
SELECT streak, CAST(count(*) AS BIGINT) AS n_users
FROM mx GROUP BY streak ORDER BY streak
""",
)
def q_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of each user's LONGEST consecutive-day activity
    streak — the engagement metric behind "7-day streak" product
    mechanics and retention health dashboards; the run-length
    companion to q_active_users' calendar view.

    Classic gaps-and-islands on integers: distinct active days per
    user, island key = day − row_number() over the user's day order
    (consecutive days share it, any gap breaks it), streak = island
    size, then one max per user and a bounded histogram (streak
    lengths are calendar-bounded).

    Engine stability: everything is exact integer arithmetic on epoch
    days — no floats exist anywhere in this plan.

    Shape: the event log collapses map-side to DISTINCT (user, day) —
    calendar-bounded per user — then one user-keyed exchange serves
    the window, both groupBys, and the max. At 100 TB: one shuffle of
    (user, day) pairs, output rows bounded by the calendar."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts)) DIV 86400 AS BIGINT)").alias("d"),
    ).distinct()
    isl = ud.select(
        "user_id",
        (F.col("d") - F.row_number().over(
            Window.partitionBy("user_id").orderBy("d")
        )).alias("grp"),
    )
    st = isl.groupBy("user_id", "grp").agg(F.count("*").cast("long").alias("len"))
    mx = st.groupBy("user_id").agg(F.max("len").alias("streak"))
    return (
        mx.groupBy("streak")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("streak")
    )


# ---------------------------------------------------------------------------
# Survival curve of user lifespans (retention S(k))
# ---------------------------------------------------------------------------


@query(
    "q_survival_curve",
    oracle="""
WITH ud AS (
  SELECT user_id,
         CAST(max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
            - min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS BIGINT) AS lifespan
  FROM events GROUP BY user_id
),
h AS (SELECT lifespan, CAST(count(*) AS BIGINT) AS c FROM ud GROUP BY lifespan),
g AS (SELECT unnest(range(0, (SELECT max(lifespan) FROM ud) + 1)) AS k),
grid AS (
  SELECT g.k, CAST(coalesce(h.c, 0) AS BIGINT) AS c
  FROM g LEFT JOIN h ON h.lifespan = g.k
),
w AS (SELECT k, c, CAST(sum(c) OVER (ORDER BY k) AS BIGINT) AS cum FROM grid),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ud)
SELECT CAST(k AS BIGINT) AS k_days,
       CAST(n - (cum - c) AS BIGINT) AS n_surviving,
       CAST((n - (cum - c)) * 1000000 // n AS BIGINT) AS surv_ppm
FROM w CROSS JOIN tot ORDER BY k_days
""",
)
def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival function S(k) of user lifespans: the fraction of users
    whose observed activity span (last day − first day) reaches at
    least k days, on the full zero-filled day grid — the retention
    curve a growth team reads for median lifetime and decay shape
    (the duration-domain companion to q_retention_cohort's calendar
    view).

    S(k) is computed WITHOUT a per-k pass: one lifespan histogram,
    zero-filled onto the 0..max grid, then survivors(k) = N −
    cumulative(k−1) from a single running sum — the classic
    complement-of-CDF identity.

    Engine stability: lifespans are integer epoch-day differences;
    the histogram, the running sum, and the ppm share are exact
    BIGINT arithmetic — no float in the plan.

    Shape: the event log collapses map-side to per-user min/max day
    (one user-keyed aggregate); everything after runs on the
    calendar-bounded grid. At 100 TB: one aggregation shuffle."""
    ev = load(spark, sf_dir, "events")
    d = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    ud = ev.select("user_id", d.alias("d")).groupBy("user_id").agg(
        (F.max("d") - F.min("d")).cast("long").alias("lifespan")
    )
    h = ud.groupBy("lifespan").agg(F.count("*").cast("long").alias("c"))
    mx = ud.agg(F.max("lifespan").alias("mxl"))
    g = F.broadcast(mx).select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("mxl"))).alias("k")
    )
    grid = g.join(h, g.k == h.lifespan, "left").select(
        "k", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = grid.select(
        "k", "c",
        F.sum("c").over(Window.partitionBy().orderBy("k")).cast("long").alias("cum"),
    )
    tot = ud.agg(F.count("*").cast("long").alias("n"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("k_days"),
            (F.col("n") - (F.col("cum") - F.col("c"))).cast("long").alias("n_surviving"),
            F.expr(
                "CAST((n - (cum - c)) * 1000000 DIV n AS BIGINT)"
            ).alias("surv_ppm"),
        )
        .orderBy("k_days")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue per cohort by month age)
# ---------------------------------------------------------------------------


@query(
    "q_cohort_ltv",
    oracle="""
WITH o AS (
  SELECT o_custkey AS ck,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS rev_c
  FROM orders
),
fst AS (SELECT ck, CAST(min(m) AS BIGINT) AS cohort_m FROM o GROUP BY ck),
cells AS (
  SELECT cohort_m, CAST(m - cohort_m AS BIGINT) AS age_m,
         CAST(sum(rev_c) AS BIGINT) AS rev_cents,
         CAST(count(DISTINCT o.ck) AS BIGINT) AS n_active
  FROM o JOIN fst ON o.ck = fst.ck
  GROUP BY cohort_m, m - cohort_m
),
sz AS (SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_n FROM fst GROUP BY cohort_m)
SELECT cells.cohort_m, age_m, cohort_n, n_active, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY cells.cohort_m ORDER BY age_m)
            AS BIGINT) AS cum_rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY cells.cohort_m ORDER BY age_m)
            // cohort_n AS BIGINT) AS ltv_cents_per_user
FROM cells JOIN sz ON cells.cohort_m = sz.cohort_m
ORDER BY cells.cohort_m, age_m
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, each cohort's revenue laid out by month age with the
    running cumulative and per-user LTV — the payback/LTV grid a
    finance team reads against acquisition cost (the monetary
    companion to q_retention_cohort's activity triangle).

    Engine stability: months are integer (year·12+month) indices,
    revenue is exact cents, the LTV is BIGINT division after an
    integer window sum — no float in the plan.

    Shape: one customer-keyed aggregate pins each customer's cohort
    (broadcast back into the fact via the customer-keyed join), one
    map-side collapse to (cohort, age) cells — calendar² bounded —
    and windows over those cells only. At 100 TB: two shuffles of
    keyed aggregates, bounded everything after."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr(
            "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)"
        ).alias("m"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("rev_c"),
    )
    fst = o.groupBy("ck").agg(F.min("m").alias("cohort_m"))
    cells = (
        o.join(fst, "ck")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_m"))
        .agg(
            F.sum("rev_c").cast("long").alias("rev_cents"),
            F.countDistinct("ck").cast("long").alias("n_active"),
        )
    )
    sz = fst.groupBy("cohort_m").agg(F.count("*").cast("long").alias("cohort_n"))
    w = Window.partitionBy("cohort_m").orderBy("age_m")
    return (
        cells.join(F.broadcast(sz), "cohort_m")
        .select(
            "cohort_m",
            "age_m",
            "cohort_n",
            "n_active",
            "rev_cents",
            F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
            F.expr(
                "CAST(sum(rev_cents) OVER (PARTITION BY cohort_m ORDER BY age_m)"
                " DIV cohort_n AS BIGINT)"
            ).alias("ltv_cents_per_user"),
        )
        .orderBy("cohort_m", "age_m")
    )


# ---------------------------------------------------------------------------
# Repurchase-gap distribution (inter-order intervals)
# ---------------------------------------------------------------------------


@query(
    "q_repurchase_gaps",
    oracle="""
WITH o AS (
  SELECT o_custkey AS ck,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
         o_orderkey AS okey
  FROM orders
),
g AS (
  SELECT ck, d - lag(d) OVER (PARTITION BY ck ORDER BY d, okey) AS gap
  FROM o
)
SELECT CAST(gap AS BIGINT) AS gap_days,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT) AS share_ppm
FROM g WHERE gap IS NOT NULL
GROUP BY gap ORDER BY gap_days
""",
)
def q_repurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of inter-order gaps (days between a customer's
    consecutive orders) — the repurchase-cycle histogram that sets
    re-engagement timing and churn cutoffs ("a customer 2σ past their
    usual gap is at risk"); the order-domain companion to
    q_streak_longest's activity view.

    Engine stability: epoch days are integers, consecutive order
    pairs come from one lag() over the per-customer (day, order key)
    total order — same-day orders resolve identically in both engines
    via the key tiebreak — and counts/shares are exact BIGINT
    arithmetic.

    Shape: one customer-keyed exchange serves the lag window, then a
    map-side collapse to the calendar-bounded gap histogram. At
    100 TB: one shuffle of (customer, day, key) triples."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400").alias("d"),
        F.col("o_orderkey").alias("okey"),
    )
    w = Window.partitionBy("ck").orderBy("d", "okey")
    g = o.select("ck", (F.col("d") - F.lag("d").over(w)).alias("gap"))
    cnt = (
        g.filter(F.col("gap").isNotNull())
        .groupBy(F.col("gap").cast("long").alias("gap_days"))
        .agg(F.count("*").cast("long").alias("n_gaps"))
    )
    return cnt.select(
        "gap_days",
        "n_gaps",
        F.expr(
            "CAST(n_gaps * 1000000 DIV sum(n_gaps) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("gap_days")


# ---------------------------------------------------------------------------
# Churn-risk flags (current silence vs each customer's own cadence)
# ---------------------------------------------------------------------------

CHURN_MIN_GAPS = 2  # need >= 2 observed gaps for a meaningful median


@query(
    "q_churn_flags",
    oracle=f"""
WITH o AS (
  SELECT o_custkey AS ck,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d,
         o_orderkey AS okey
  FROM orders
),
ref AS (SELECT CAST(max(d) AS BIGINT) AS rd FROM o),
g AS (
  SELECT ck, d, d - lag(d) OVER (PARTITION BY ck ORDER BY d, okey) AS gap
  FROM o
),
per AS (
  SELECT ck, CAST(count(gap) AS BIGINT) AS n_gaps,
         CAST(2 * quantile_cont(gap, 0.5) AS BIGINT) AS med2,
         CAST(max(d) AS BIGINT) AS last_d
  FROM g GROUP BY ck
),
fl AS (
  SELECT ck, CAST(rd - last_d AS BIGINT) AS cur_gap, med2
  FROM per CROSS JOIN ref WHERE n_gaps >= {CHURN_MIN_GAPS}
)
SELECT CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN cur_gap > med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
       CAST(sum(CASE WHEN cur_gap > med2 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS risk_ppm
FROM fl
""",
)
def q_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk summary: of the customers with an established
    cadence (≥2 observed inter-order gaps), how many have now been
    silent LONGER than 2× their own median gap, measured against the
    corpus's last order day — the personalized-cutoff churn screen
    (a weekly buyer 15 days quiet is at risk; a quarterly buyer isn't),
    built on q_repurchase_gaps' per-customer gap machinery.

    Engine stability: gaps and days are integers; 2× the exact median
    of integers is an exact integer in both engines (medians of
    integer sets are x.0 or x.5 — doubling clears the fraction), so
    the risk predicate cur_gap > 2·median compares two BIGINTs; counts
    and the ppm are exact integer arithmetic.

    Shape: one customer-keyed exchange shared by the lag window and
    the per-customer aggregate (count/median/max in one pass), one
    broadcast scalar reference day, one global reduce. At 100 TB: one
    shuffle of (customer, day, key) triples."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400").alias("d"),
        F.col("o_orderkey").alias("okey"),
    )
    ref = o.agg(F.max("d").alias("rd"))
    w = Window.partitionBy("ck").orderBy("d", "okey")
    g = o.select("ck", "d", (F.col("d") - F.lag("d").over(w)).alias("gap"))
    per = g.groupBy("ck").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.expr("CAST(2 * percentile(gap, 0.5) AS BIGINT)").alias("med2"),
        F.max("d").alias("last_d"),
    )
    fl = (
        per.filter(F.col("n_gaps") >= CHURN_MIN_GAPS)
        .crossJoin(F.broadcast(ref))
        .select((F.col("rd") - F.col("last_d")).cast("long").alias("cur_gap"), "med2")
    )
    return fl.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum(F.when(F.col("cur_gap") > F.col("med2"), 1).otherwise(0))
        .cast("long")
        .alias("n_at_risk"),
        F.expr(
            "CAST(sum(CASE WHEN cur_gap > med2 THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("risk_ppm"),
    )


# ---------------------------------------------------------------------------
# Three-step windowed funnel (signup → view → purchase)
# ---------------------------------------------------------------------------

F3_W = 86_400  # per-step window: next step must land within 24 h
# Sortable (es, event_id) key packed into ONE BIGINT: es·1e8 + id —
# es ≈ 1.7e9 ⇒ 1.7e17 ≪ 2^63, and event_id < 1e8 at every fixture
# scale (10× stress offsets reach 9e7).
_F3_PACK = 100_000_000


@query(
    "q_funnel3",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')
),
s AS (SELECT user_id, es, event_id FROM e WHERE event_type = 'signup'),
v AS (SELECT user_id, es, event_id FROM e WHERE event_type = 'view'),
p AS (SELECT user_id, es, event_id FROM e WHERE event_type = 'purchase'),
sv AS (
  SELECT s.user_id, s.es AS s_es, s.event_id AS s_id,
         CAST(min(v.es * {_F3_PACK} + v.event_id) AS BIGINT) AS v_key
  FROM s LEFT JOIN v ON s.user_id = v.user_id
     AND (v.es > s.es OR (v.es = s.es AND v.event_id > s.event_id))
     AND v.es - s.es <= {F3_W}
  GROUP BY s.user_id, s.es, s.event_id
),
svp AS (
  SELECT sv.s_es, sv.v_key,
         CAST(count(p.es) > 0 AS INTEGER) AS conv3
  FROM sv LEFT JOIN p ON sv.v_key IS NOT NULL AND p.user_id = sv.user_id
     AND (p.es > sv.v_key // {_F3_PACK}
          OR (p.es = sv.v_key // {_F3_PACK}
              AND p.event_id > sv.v_key % {_F3_PACK}))
     AND p.es - sv.v_key // {_F3_PACK} <= {F3_W}
  GROUP BY sv.s_es, sv.s_id, sv.v_key
)
SELECT CAST(s_es // 86400 AS BIGINT) AS dnum,
       CAST(count(*) AS BIGINT) AS n_signups,
       CAST(sum(CASE WHEN v_key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_step2,
       CAST(sum(conv3) AS BIGINT) AS n_step3,
       CAST(sum(CASE WHEN v_key IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS cvr2_ppm,
       CAST(sum(conv3) * 1000000 // count(*) AS BIGINT) AS cvr3_ppm
FROM svp GROUP BY s_es // 86400 ORDER BY dnum
""",
)
def q_funnel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step windowed funnel per signup day: signup → FIRST view
    within 24 h → purchase within 24 h OF THAT VIEW (the
    ClickHouse-windowFunnel question) — unlike q_funnel_window's
    two-step form, step 3 is anchored on step 2's timestamp, so a
    purchase right after signup but before any view does NOT count.

    Step 2's "first view after the signup" cannot ride a single
    forward window (step 3's anchor is data-dependent), so both steps
    are user-keyed LEFT JOINs with (epoch, event_id) strict-order
    predicates; the step-2 argmin packs (es, id) into ONE BIGINT
    (es·1e8 + id — the fixed-width-encoding discipline, numeric form)
    so min() IS "earliest view" with the same-second tiebreak
    identical in both engines.

    Engine stability: epoch seconds, packed keys, window bounds,
    counts, and ppm rates are all exact BIGINT arithmetic.

    Shape: both joins are user-keyed with per-user-day-bounded
    fan-out (24 h windows), then one map-side collapse to signup-day
    cells. At 100 TB: two user-keyed shuffles of slim event triples."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "view", "purchase")
    )
    e = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("es").alias("s_es"), F.col("event_id").alias("s_id")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uid"), F.col("es").alias("v_es"),
        F.col("event_id").alias("v_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("es").alias("p_es"),
        F.col("event_id").alias("p_id"),
    )
    sv = (
        s.join(
            v,
            (F.col("user_id") == F.col("v_uid"))
            & (
                (F.col("v_es") > F.col("s_es"))
                | ((F.col("v_es") == F.col("s_es")) & (F.col("v_id") > F.col("s_id")))
            )
            & (F.col("v_es") - F.col("s_es") <= F3_W),
            "left",
        )
        .groupBy("user_id", "s_es", "s_id")
        .agg(
            F.min(F.col("v_es") * _F3_PACK + F.col("v_id"))
            .cast("long")
            .alias("v_key")
        )
    )
    svp = (
        sv.join(
            p,
            F.col("v_key").isNotNull()
            & (F.col("user_id") == F.col("p_uid"))
            & (
                (F.col("p_es") > F.expr(f"v_key DIV {_F3_PACK}"))
                | (
                    (F.col("p_es") == F.expr(f"v_key DIV {_F3_PACK}"))
                    & (F.col("p_id") > F.expr(f"v_key % {_F3_PACK}"))
                )
            )
            & (F.col("p_es") - F.expr(f"v_key DIV {_F3_PACK}") <= F3_W),
            "left",
        )
        .groupBy("s_es", "s_id", "v_key")
        .agg(F.expr("CAST(count(p_es) > 0 AS INTEGER)").alias("conv3"))
    )
    return (
        svp.groupBy(F.expr("CAST(s_es DIV 86400 AS BIGINT)").alias("dnum"))
        .agg(
            F.count("*").cast("long").alias("n_signups"),
            F.sum(F.when(F.col("v_key").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_step2"),
            F.sum("conv3").cast("long").alias("n_step3"),
            F.expr(
                "CAST(sum(CASE WHEN v_key IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("cvr2_ppm"),
            F.expr("CAST(sum(conv3) * 1000000 DIV count(*) AS BIGINT)").alias(
                "cvr3_ppm"
            ),
        )
        .orderBy("dnum")
    )


# ---------------------------------------------------------------------------
# Weekly growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@query(
    "q_growth_accounting",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
  FROM events
),
c AS (
  SELECT w, lag(w) OVER (PARTITION BY user_id ORDER BY w) AS pw
  FROM uw
),
weekly AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS active,
         CAST(sum(CASE WHEN pw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN w - pw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN pw IS NOT NULL AND w - pw > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
  FROM c GROUP BY w
),
g AS (
  SELECT unnest(range((SELECT min(w) FROM uw), (SELECT max(w) FROM uw) + 1)) AS w
),
grid AS (
  SELECT g.w,
         CAST(coalesce(active, 0) AS BIGINT) AS active,
         CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
         CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected
  FROM g LEFT JOIN weekly ON weekly.w = g.w
)
SELECT CAST(w AS BIGINT) AS w, active, n_new, n_retained, n_resurrected,
       CAST(coalesce(lag(active) OVER (ORDER BY w), 0) - n_retained AS BIGINT)
         AS n_churned
FROM grid ORDER BY w
""",
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified as NEW
    (first week ever), RETAINED (also active the previous week), or
    RESURRECTED (returning after a gap), plus CHURNED = last week's
    actives who didn't retain — the canonical startup growth ledger
    (active(w) ≡ new + retained + resurrected, churn by the identity
    active(w−1) − retained(w), both pinned in tests).

    The per-user classification is one lag() over the DISTINCT
    (user, week) grain; churn needs the PREVIOUS CALENDAR week's
    actives, so the weekly rollup is zero-filled onto the full week
    grid first — with observed-weeks-only, a fully-silent week would
    silently shift the churn baseline to the wrong week.

    Engine stability: epoch weeks, counts, and the churn difference
    are pure integer arithmetic.

    Shape: one user-keyed exchange (distinct + lag share it), a
    map-side rollup to calendar-bounded weekly cells, windows over
    those cells only."""
    ev = load(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 604800").alias("w"),
    ).distinct()
    c = uw.select(
        "w",
        F.lag("w").over(Window.partitionBy("user_id").orderBy("w")).alias("pw"),
    )
    weekly = c.groupBy("w").agg(
        F.count("*").cast("long").alias("active"),
        F.sum(F.when(F.col("pw").isNull(), 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(F.when(F.col("w") - F.col("pw") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(F.col("pw").isNotNull() & (F.col("w") - F.col("pw") > 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_resurrected"),
    )
    b = uw.agg(F.min("w").alias("mn"), F.max("w").alias("mx"))
    g = F.broadcast(b).select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("w")
    )
    grid = g.join(weekly, "w", "left").select(
        "w",
        *[
            F.coalesce(F.col(col), F.lit(0)).cast("long").alias(col)
            for col in ("active", "n_new", "n_retained", "n_resurrected")
        ],
    )
    wo = Window.partitionBy().orderBy("w")
    return grid.select(
        "w",
        "active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (
            F.coalesce(F.lag("active").over(wo), F.lit(0)) - F.col("n_retained")
        ).cast("long").alias("n_churned"),
    ).orderBy("w")


# ---------------------------------------------------------------------------
# Audience overlap between event types (pairwise user-base Jaccard)
# ---------------------------------------------------------------------------


@query(
    "q_user_type_overlap",
    oracle="""
WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
m AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY t),
p AS (
  SELECT a.t AS type_a, b.t AS type_b, CAST(count(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both, ma.n AS n_a, mb.n AS n_b,
       CAST(n_both * 1000000 // (ma.n + mb.n - n_both) AS BIGINT) AS jaccard_ppm
FROM p JOIN m ma ON type_a = ma.t JOIN m mb ON type_b = mb.t
ORDER BY type_a, type_b
""",
)
def q_user_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: the Jaccard of the user
    bases of every type pair, in integer ppm — the
    who-does-both screen behind feature-adoption and cross-sell
    analyses (q_source_vocab_overlap's construction pointed at users
    instead of vocabulary).

    Shape: the event log collapses to DISTINCT (type, user); the
    user-keyed self-join fans out at most C(|types|,2) = 10 pairs per
    user, and the pair space is ≤10 cells at ANY volume; marginals are
    a ≤5-row broadcast. Engine stability: counts and the Jaccard ppm
    are pure BIGINT arithmetic."""
    ev = load(spark, sf_dir, "events")
    tu = ev.select(F.col("event_type").alias("t"), F.col("user_id").alias("u")).distinct()
    m = tu.groupBy("t").agg(F.count("*").cast("long").alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    p = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.t") < F.col("b.t")))
        .groupBy(F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b"))
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    ma = F.broadcast(m.select(F.col("t").alias("type_a"), F.col("n").alias("n_a")))
    mb = F.broadcast(m.select(F.col("t").alias("type_b"), F.col("n").alias("n_b")))
    return (
        p.join(ma, "type_a")
        .join(mb, "type_b")
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            F.expr(
                "CAST(n_both * 1000000 DIV (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Inter-arrival time distribution (log2-bucketed, per event type)
# ---------------------------------------------------------------------------


@query(
    "q_interarrival_dist",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id
  FROM events
),
g AS (
  SELECT event_type,
         es - lag(es) OVER (PARTITION BY event_type ORDER BY es, event_id) AS gap
  FROM e
),
b AS (
  SELECT event_type,
         CAST(CASE WHEN gap = 0 THEN 0
                   ELSE length(bin(gap)) END AS BIGINT) AS bucket
  FROM g WHERE gap IS NOT NULL
)
SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 1000000
            // sum(count(*)) OVER (PARTITION BY event_type) AS BIGINT) AS share_ppm
FROM b GROUP BY event_type, bucket
ORDER BY event_type, bucket
""",
)
def q_interarrival_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type, log2-bucketed
    (bucket b covers [2^(b−1), 2^b) seconds; 0 = same-second) — the
    arrival-process profile behind capacity planning and timeout
    tuning (a Poisson stream shows a geometric bucket decay; heavy
    upper-bucket mass means bursty-then-silent producers, the same
    signal q_burstiness summarizes to one number, here as the full
    spectrum).

    Engine stability: gaps are integer epoch-second differences over
    the per-type (second, event_id) total order; the bucket is the
    BINARY-STRING length of the integer gap (the q_cms_error_bands
    idiom — no log2 float edge at exact powers of two); counts and
    shares are exact BIGINT arithmetic.

    Shape: one type-keyed exchange for the lag window, then map-side
    collapse to ≤|types|·~40 buckets. At 100 TB: one shuffle of
    (type, second, id) triples."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("es", "event_id")
    g = e.select(
        "event_type", (F.col("es") - F.lag("es").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    b = g.select(
        "event_type",
        F.expr(
            "CAST(CASE WHEN gap = 0 THEN 0 ELSE length(bin(gap)) END AS BIGINT)"
        ).alias("bucket"),
    )
    cnt = b.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    return cnt.select(
        "event_type",
        "bucket",
        "n",
        F.expr(
            "CAST(n * 1000000 DIV sum(n) OVER (PARTITION BY event_type) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("event_type", "bucket")


# ---------------------------------------------------------------------------
# Day-of-week seasonality strength (variance decomposition)
# ---------------------------------------------------------------------------

# Mirrored strength ratio: between-dow share of daily-count variance,
# from exact BIGINTs (per-dow terms micro-rounded BEFORE the cross-dow
# sum — the chi2/MI summation discipline).
_SEAS_TERM = "CAST(round(1000000 * CAST(sd AS DOUBLE) * sd / nd) AS BIGINT)"
_SEAS_STRENGTH = (
    "CAST(round(1000000 * ((CAST(sb AS DOUBLE) / 1000000 - CAST(s AS DOUBLE) * s / n) "
    "/ (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n))) AS BIGINT)"
)


@query(
    "q_seasonal_strength",
    oracle=f"""
WITH b AS (
  SELECT min({_EPOCH_DAY_DUCK}) AS mn, max({_EPOCH_DAY_DUCK}) AS mx FROM events
),
cnt AS (
  SELECT event_type, {_EPOCH_DAY_DUCK} AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, g.d, CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(mn, mx + 1)) AS d FROM b) g
  LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = g.d
),
dw AS (
  SELECT event_type, d % 7 AS dow,
         CAST(sum(c) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS nd
  FROM grid GROUP BY event_type, d % 7
),
m AS (
  SELECT event_type,
         CAST(sum(nd) AS BIGINT) AS n, CAST(sum(sd) AS BIGINT) AS s,
         CAST(sum({_SEAS_TERM}) AS BIGINT) AS sb
  FROM dw GROUP BY event_type
),
q AS (
  SELECT event_type, CAST(sum(c * c) AS BIGINT) AS ss FROM grid GROUP BY event_type
),
pk AS (
  SELECT event_type, dow AS peak_dow FROM (
    SELECT event_type, dow,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY sd * 1000000 // nd DESC, dow) AS rk
    FROM dw
  ) WHERE rk = 1
)
SELECT m.event_type, n AS n_days, s AS n_events,
       CAST(pk.peak_dow AS BIGINT) AS peak_dow,
       {_SEAS_STRENGTH} AS strength_micro
FROM m
JOIN q ON m.event_type = q.event_type
JOIN pk ON m.event_type = pk.event_type
WHERE CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n > 0
ORDER BY m.event_type
""",
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality STRENGTH per event type: the share of
    daily-count variance explained by the day-of-week means (the R² of
    the one-way DOW decomposition, integer micros) plus the peak day —
    q_seasonality_dow reports the weekly profile itself; this grades
    how much that profile actually matters against day-to-day noise
    (strength ≈ 0 ⇒ scheduling by weekday is cargo cult; ≈ 1 ⇒ the
    weekday IS the forecast).

    The day grid is zero-filled (silent days are real observations of
    zero traffic — dropping them would inflate both means and
    strength); per-dow day counts then come from the grid, so the
    unbalanced tail week is weighted exactly.

    Engine stability: daily counts, per-dow sums, and day tallies are
    exact BIGINTs; each dow's s²/n term is micro-rounded BEFORE the
    cross-dow sum; the final ratio is ONE mirrored double expression
    micro-rounded, with degenerate types excluded by the
    double-on-exact-integers variance predicate; the peak day is an
    integer-ratio argmax with a dow tiebreak.

    Shape: map-side collapse to (type, day) cells, the calendar-
    bounded grid join, then ≤7 dow rows per type. One aggregation
    shuffle at any scale."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long")
    b = ev.select(d.alias("d")).agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    cnt = ev.groupBy("event_type", d.alias("d")).agg(
        F.count("*").cast("long").alias("c")
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(
            F.broadcast(b).select(
                F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
            )
        )
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
        )
    )
    dw = grid.groupBy("event_type", (F.col("d") % 7).alias("dow")).agg(
        F.sum("c").cast("long").alias("sd"),
        F.count("*").cast("long").alias("nd"),
    )
    m = dw.groupBy("event_type").agg(
        F.sum("nd").cast("long").alias("n"),
        F.sum("sd").cast("long").alias("s"),
        F.sum(F.expr(_SEAS_TERM)).cast("long").alias("sb"),
    )
    q = grid.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss")
    )
    pk = (
        dw.select(
            "event_type",
            "dow",
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy(
                    F.expr("sd * 1000000 DIV nd").desc(), "dow"
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("dow").cast("long").alias("peak_dow"))
    )
    return (
        m.join(q, "event_type")
        .join(pk, "event_type")
        .filter(
            F.expr("CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n") > 0
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("s").alias("n_events"),
            "peak_dow",
            F.expr(_SEAS_STRENGTH).alias("strength_micro"),
        )
        .orderBy("event_type")
    )
