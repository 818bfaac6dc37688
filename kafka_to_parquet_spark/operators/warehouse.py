"""Warehouse-maintenance operators: SCD-2 dimension versioning,
expectations-style data-quality validation, and Z-order layout
statistics — the table-management surface a lakehouse user expects
around the reference's plain parquet sink (src/main.rs:99-139 writes
files and stops there; everything here is the mandated extension
tier).

All three are pure DataFrame plans with exact DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import TempDataset, memo, temp_dataset
from kafka_to_parquet_spark.functions.hashes import H31_P, duck_md5_int, spark_md5_int
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load


# ---------------------------------------------------------------------------
# SCD-2: slowly-changing-dimension validity intervals from an event log
# ---------------------------------------------------------------------------


@query(
    "q_scd2_intervals",
    oracle="""
WITH base AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
changes AS (
  SELECT * FROM (
    SELECT user_id, event_type, es, event_id,
           lag(event_type) OVER w AS prev_attr
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
  ) WHERE prev_attr IS NULL OR prev_attr <> event_type
)
SELECT user_id,
       event_type AS attr,
       CAST(row_number() OVER w AS BIGINT) AS version,
       es AS eff_from_es,
       lead(es) OVER w AS eff_to_es,
       CAST(CASE WHEN lead(es) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each user's
    event stream into attribute *versions* — a new version whenever the
    tracked attribute (event_type) changes, each valid over
    [eff_from, eff_to) with an open current row. This is the standard
    change-data-capture → dimension-table derivation (the table an
    as-of join like q_join_asof consumes).

    Shape: ONE shuffle on user_id; the change filter (lag), version
    numbering, and interval close (lead) are all computed inside that
    single partition pass — the second window reuses the first's
    partitioning and sort, so Catalyst plans one Exchange + one Sort.
    Per-key state is one previous row; 100 TB of events stream through
    in a sorted scan per user shard. Times are epoch seconds (the
    engine-stable serialization for the ns-precision fixture ts)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    changes = (
        ev.withColumn("prev_attr", F.lag("event_type").over(w))
        .filter(F.col("prev_attr").isNull() | (F.col("prev_attr") != F.col("event_type")))
        .drop("prev_attr")
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.row_number().over(w).cast("long").alias("version"),
        F.col("es").alias("eff_from_es"),
        F.lead("es").over(w).alias("eff_to_es"),
        F.when(F.lead("es").over(w).isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Data-quality validation report (dbt-test / Great-Expectations style)
# ---------------------------------------------------------------------------


@query(
    "q_quality_checks",
    oracle="""
WITH li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
  FROM lineitem
),
od AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup
  FROM orders
),
dc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
  FROM documents
),
fk1 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
fk2 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
fk3 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
SELECT 'dom_lineitem_discount_in_0_1' AS check_name, v_disc AS n_violations, n AS n_checked FROM li
UNION ALL SELECT 'dom_lineitem_price_positive', v_price, n FROM li
UNION ALL SELECT 'dom_lineitem_qty_positive', v_qty, n FROM li
UNION ALL SELECT 'pk_orders_orderkey_unique', v_dup, n FROM od
UNION ALL SELECT 'nn_documents_text_nonempty', v_empty, n FROM dc
UNION ALL SELECT 'fk_lineitem_orderkey', fk1.v, li.n FROM fk1, li
UNION ALL SELECT 'fk_orders_custkey', fk2.v, od.n FROM fk2, od
UNION ALL SELECT 'fk_lineitem_partkey', fk3.v, li.n FROM fk3, li
""",
)
def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style validation suite — one report row per
    constraint (domain bounds, primary-key uniqueness, non-null/empty,
    referential integrity), each as (check_name, n_violations,
    n_checked). The pipeline-gate pattern: run after ingest, fail the
    batch when any n_violations > 0.

    Shape discipline: all domain checks over one table are evaluated
    in a SINGLE scan as conditional aggregates (one pass over lineitem
    computes three checks), not one scan per check; FK checks are
    left-anti joins whose dimension sides broadcast (orders⋈customer,
    lineitem⋈part) or hash-join on the fact key — each check's cost is
    one scan + one exchange at most, and the report union is 8 one-row
    plans. At 100 TB the whole suite is O(#tables) scans, not
    O(#checks)."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    pt = load(spark, sf_dir, "part")
    dc = load(spark, sf_dir, "documents")

    def cnt(cond):  # conditional count as a long
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li_stats = li.agg(
        F.count("*").alias("n"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("v_disc"),
        cnt(F.col("l_extendedprice") <= 0).alias("v_price"),
        cnt(F.col("l_quantity") <= 0).alias("v_qty"),
    )
    od_stats = od.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("v_dup"),
    )
    dc_stats = dc.agg(
        F.count("*").alias("n"),
        cnt(F.col("text").isNull() | (F.col("text") == "")).alias("v_empty"),
    )
    fk1 = li.join(od, li.l_orderkey == od.o_orderkey, "left_anti").agg(
        F.count("*").cast("long").alias("v")
    )
    fk2 = od.join(cu, od.o_custkey == cu.c_custkey, "left_anti").agg(
        F.count("*").cast("long").alias("v")
    )
    fk3 = li.join(pt, li.l_partkey == pt.p_partkey, "left_anti").agg(
        F.count("*").cast("long").alias("v")
    )

    def row(name: str, stats: DataFrame, v_col: str, n_from: DataFrame | None = None):
        out = stats if n_from is None else stats.crossJoin(n_from.select("n"))
        return out.select(
            F.lit(name).alias("check_name"),
            F.col(v_col).alias("n_violations"),
            F.col("n").alias("n_checked"),
        )

    return (
        row("dom_lineitem_discount_in_0_1", li_stats, "v_disc")
        .unionByName(row("dom_lineitem_price_positive", li_stats, "v_price"))
        .unionByName(row("dom_lineitem_qty_positive", li_stats, "v_qty"))
        .unionByName(row("pk_orders_orderkey_unique", od_stats, "v_dup"))
        .unionByName(row("nn_documents_text_nonempty", dc_stats, "v_empty"))
        .unionByName(row("fk_lineitem_orderkey", fk1, "v", li_stats))
        .unionByName(row("fk_orders_custkey", fk2, "v", od_stats))
        .unionByName(row("fk_lineitem_partkey", fk3, "v", li_stats))
    )


# ---------------------------------------------------------------------------
# Z-order layout statistics (multi-dimensional clustering for data skipping)
# ---------------------------------------------------------------------------

ZBITS = 8  # 8 bits per dimension → 16-bit z-values
ZFILES_SHIFT = 10  # file_id = z >> 10 → 64 z-range buckets


def _interleave(bx: str, by: str, duck: bool) -> str:
    """Bit-interleaved Morton code: x occupies even bits, y odd bits.
    Pure integer arithmetic, written once per engine dialect."""
    shr = (lambda c, k: f"({c} >> {k})") if duck else (
        lambda c, k: f"shiftright({c}, {k})"
    )
    terms = []
    for k in range(ZBITS):
        terms.append(f"(({shr(bx, k)} & 1) * {1 << (2 * k)})")
        terms.append(f"(({shr(by, k)} & 1) * {1 << (2 * k + 1)})")
    return " + ".join(terms)


def _zbucket(v: str, lo: str, hi: str) -> str:
    """Quantize v into [0, 2^ZBITS): integer inputs scaled through one
    exact double division (values ≪ 2^53, floor identical both
    engines)."""
    return (
        f"CAST(floor((({v}) - ({lo})) * {1 << ZBITS}.0 / (({hi}) - ({lo}) + 1)) AS BIGINT)"
    )


@query(
    "q_zorder_stats",
    oracle=f"""
WITH stats AS (
  SELECT min(l_partkey) AS min_p, max(l_partkey) AS max_p,
         min(l_suppkey) AS min_s, max(l_suppkey) AS max_s
  FROM lineitem
),
coded AS (
  SELECT l_partkey, l_suppkey,
         {_interleave(_zbucket('l_partkey', 'min_p', 'max_p'),
                      _zbucket('l_suppkey', 'min_s', 'max_s'), duck=True)} AS z
  FROM lineitem CROSS JOIN stats
)
SELECT CAST(z >> {ZFILES_SHIFT} AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_p,
       CAST(max(l_partkey) AS BIGINT) AS max_p,
       CAST(min(l_suppkey) AS BIGINT) AS min_s,
       CAST(max(l_suppkey) AS BIGINT) AS max_s
FROM coded GROUP BY z >> {ZFILES_SHIFT}
""",
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout statistics: quantize two scan
    dimensions to {ZBITS} bits each, bit-interleave them into a z-value,
    bucket rows by z-range (the would-be output files of an OPTIMIZE
    ZORDER BY (l_partkey, l_suppkey)), and report each bucket's
    min/max footer stats on BOTH dimensions. Because a z-range fixes
    the leading interleaved bits, every bucket's bounding box spans
    ≈ 1/2^(ZFILES_SHIFT/2) of EACH dimension's domain — so a filter on
    either column prunes most buckets by footer min/max alone. That is
    the data-skipping argument for multi-dimensional clustering
    (single-column sort gives tight stats on one dimension only);
    tests/test_warehouse.py writes the layout and measures it.

    Plan: one 1-row min/max aggregate broadcast back over the scan
    (two scans total), the Morton code is pure integer expression work
    inside codegen, and the bucket stats are a single hash aggregate on
    the derived file_id — at 100 TB this is exactly the stats pass an
    OPTIMIZE job runs before writing, with the write replaced by the
    report."""
    li = load(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_partkey").alias("min_p"),
        F.max("l_partkey").alias("max_p"),
        F.min("l_suppkey").alias("min_s"),
        F.max("l_suppkey").alias("max_s"),
    )
    coded = li.crossJoin(F.broadcast(stats)).select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            _interleave(
                _zbucket("l_partkey", "min_p", "max_p"),
                _zbucket("l_suppkey", "min_s", "max_s"),
                duck=False,
            )
        ).alias("z"),
    )
    return (
        coded.groupBy(
            F.expr(f"shiftright(z, {ZFILES_SHIFT})").cast("long").alias("file_id")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").cast("long").alias("min_p"),
            F.max("l_partkey").cast("long").alias("max_p"),
            F.min("l_suppkey").cast("long").alias("min_s"),
            F.max("l_suppkey").cast("long").alias("max_s"),
        )
    )


# ---------------------------------------------------------------------------
# Order-insensitive table checksum (cross-replica verification)
# ---------------------------------------------------------------------------

# Canonical row serialization: keys + flags as-is, money fenced to
# integer cents, quantity to integer units — every piece renders
# identically in both engines (no raw doubles in the string).
_CK_ROW = (
    "concat_ws('|', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING),"
    " l_returnflag, l_linestatus,"
    " CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING),"
    " CAST(CAST(round(l_quantity) AS BIGINT) AS STRING))"
)

_CK_ROW_DUCK = (
    "concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),"
    " l_returnflag, l_linestatus,"
    " CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),"
    " CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR))"
)


@query(
    "q_table_checksum",
    oracle=f"""
WITH h AS (
  SELECT l_returnflag, {duck_md5_int(_CK_ROW_DUCK, 15)} AS rh
  FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rh) % {H31_P} AS BIGINT) AS checksum
FROM h GROUP BY l_returnflag
""",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint — the cross-replica /
    post-migration verification primitive: serialize each row
    canonically (keys + flags verbatim, money fenced to integer cents
    so no raw double ever enters the string), hash it (first 60 md5
    bits), and SUM the hashes per l_returnflag group, reduced mod a
    Mersenne prime. Addition commutes, so the checksum is independent
    of row order, partitioning, and file layout — two replicas match
    iff their row multisets match (up to hash collisions).

    Scale shape: this is a pure map + hash-aggregate — one narrow
    shuffle of per-task partial (flag, count, sum) rows. The partial
    sums are the mergeable unit: at 100 TB each executor contributes
    one 128-bit-safe partial (sums are accumulated as DECIMAL(38,0) /
    HUGEINT, exact up to ~1e12 rows × 2^60), and verifying two
    replicas costs one scan each plus a 3-row compare. Grouping by a
    low-cardinality column yields per-group sub-checksums, so a
    mismatch localizes without a second pass."""
    li = load(spark, sf_dir, "lineitem")
    rh = F.expr(spark_md5_int(_CK_ROW, 15)).cast("decimal(38,0)")
    return (
        li.select("l_returnflag", rh.alias("rh"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum("rh") % H31_P).cast("long").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff (change data feed between two table versions)
# ---------------------------------------------------------------------------

# Deterministic version slices of orders: v1 lacks keys ≡7, v2 drops
# keys ≡4 and bumps o_totalprice by 100 for keys ≡3 (mod 10).
SD_ADD, SD_DEL, SD_MOD = 7, 4, 3


@query(
    "q_snapshot_diff",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders WHERE o_orderkey % 10 <> {SD_ADD}
),
v2 AS (
  SELECT o_orderkey,
         CAST(round((o_totalprice + CASE WHEN o_orderkey % 10 = {SD_MOD}
                                         THEN 100 ELSE 0 END) * 100) AS BIGINT)
           AS price_c
  FROM orders WHERE o_orderkey % 10 <> {SD_DEL}
)
SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       CASE WHEN v1.o_orderkey IS NULL THEN 'added'
            WHEN v2.o_orderkey IS NULL THEN 'removed'
            ELSE 'modified' END AS change
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
   OR v1.price_c <> v2.price_c
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two table snapshots — the diff a
    lakehouse time-travel/CDF reader emits: full-outer join the
    versions on the primary key, classify each key as added / removed /
    modified (value comparison in integer cents so a double-rendering
    difference can never masquerade as a change), and emit only
    changed keys. This is the verification/replication primitive:
    auditing a MERGE (q_merge_upsert) or feeding an incremental
    downstream (q_incr_agg) without rescanning unchanged rows.

    Shape: both sides reduce to (key, cents) before the join — the
    shuffle carries 16 bytes/row; the full-outer join shuffles on the
    key once, and the change filter drops the unchanged majority
    before any further stage. At 100 TB both snapshots scan once;
    nothing else is corpus-sized."""
    od = load(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    v1 = od.filter(F.col("o_orderkey") % 10 != SD_ADD).select(
        "o_orderkey", cents.alias("price_c")
    )
    bumped = F.expr(
        f"CAST(round((o_totalprice + CASE WHEN o_orderkey % 10 = {SD_MOD}"
        " THEN 100 ELSE 0 END) * 100) AS BIGINT)"
    )
    v2 = od.filter(F.col("o_orderkey") % 10 != SD_DEL).select(
        "o_orderkey", bumped.alias("price_c")
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("a.o_orderkey").isNull(), "added")
            .when(F.col("b.o_orderkey").isNull(), "removed")
            .otherwise("modified")
            .alias("change"),
            F.col("a.price_c").alias("p1"),
            F.col("b.price_c").alias("p2"),
        )
        .filter(
            F.col("p1").isNull() | F.col("p2").isNull() | (F.col("p1") != F.col("p2"))
        )
        .select("o_orderkey", "change")
    )


# ---------------------------------------------------------------------------
# Bucketed (pre-shuffled) join — the shuffle-free co-located join path
# ---------------------------------------------------------------------------

N_BUCKETS = 16


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and customer ONCE per (session, sf) as bucketed
    tables (bucketBy(N_BUCKETS, custkey), sorted within buckets) under
    a cache-owned scratch directory (``clear_caches`` removes it), and
    return the two table names. Bucketing is Spark's persisted
    pre-shuffle: both tables' files are already hash-partitioned by
    the join key, so a key-equal join reads bucket i of each side into
    the same task — no Exchange at query time, amortized across every
    query that joins on that key."""

    def build() -> tuple[str, str, TempDataset]:
        base = temp_dataset(spark, sf_dir, "bucketed")
        digest = base.rsplit("_", 1)[1]
        t_ord = f"ktps_b_orders_{digest}"
        t_cus = f"ktps_b_customer_{digest}"
        for tname, table, key_col, sort_col in (
            (t_ord, "orders", "o_custkey", "o_orderkey"),
            (t_cus, "customer", "c_custkey", "c_custkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            (
                load(spark, sf_dir, table)
                .write.mode("overwrite")
                .option("path", os.path.join(base, tname))
                .bucketBy(N_BUCKETS, key_col)
                .sortBy(sort_col)
                .saveAsTable(tname)
            )
        return t_ord, t_cus, base

    return memo(spark, sf_dir, "bucketed_tables", build)[:2]


@query(
    "q_join_bucketed",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders ⋈ customer on custkey where
    BOTH sides were written with ``bucketBy(N_BUCKETS, custkey)`` —
    Spark's persisted pre-shuffle. The SortMergeJoin then has NO
    Exchange on either side (each task zips bucket i of both layouts;
    tests/test_warehouse.py pins the exchange-free plan), which is the
    canonical 100 TB answer for a fact table joined on the same key by
    many queries: pay the shuffle once at write time, never at read
    time. The ``merge`` hint keeps the demonstration honest at demo
    scale, where the planner would otherwise broadcast the small dim
    and hide the bucketing. Values are the plain join+agg (revenue per
    market segment, cents-fenced), oracle-checked against the
    unbucketed tables — bucketing is a LAYOUT, it must not change a
    single row."""
    t_ord, t_cus = bucketed_tables(spark, sf_dir)
    o = spark.table(t_ord)
    c = spark.table(t_cus)
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_c"),
        )
    )


@query(
    "q_skew_report",
    oracle="""
WITH kc AS (
  SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       quantile_cont(cnt, 0.5) AS p50_cnt,
       quantile_cont(cnt, 0.99) AS p99_cnt,
       CAST(max(cnt) * 10000 // sum(cnt) AS BIGINT) AS top1_bp
FROM kc
""",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem.l_suppkey — the profile
    an engineer reads BEFORE choosing a join strategy (it is the
    measured basis for this repo's own q_join_skew_salted /
    q_agg_salted decisions): key cardinality, the hottest key's row
    count and its share of the table in basis points, and the
    p50/p99 of per-key counts (a heavy tail with p99 ≫ p50 is the
    salting signal; a high top1_bp is the AQE-skew-join signal).

    Engine stability: per-key counts are exact BIGINTs; the
    interpolated percentiles operate on integers so their linear
    interpolation yields exact binary fractions (the q_agg_percentile
    argument); top-1 share is one integer basis-point division.

    Shape: one map-side-combinable groupBy collapses the fact to its
    key histogram (bounded by |keys|, not N); the profile is a single
    reduce over that histogram — including the exact percentiles,
    which sort key-count rows, never fact rows."""
    kc = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return kc.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
        F.expr("CAST(max(cnt) * 10000 DIV sum(cnt) AS BIGINT)").alias("top1_bp"),
    )
