"""Partitioned-layout source: hive-style partitioned parquet + pruning.

At 100 TB the single biggest scan lever is never reading most of the
data: a date/tenant-partitioned layout turns a time-range predicate
into directory pruning (PartitionFilters in the scan node), before any
row is read. The fixture tables arrive unpartitioned, so this module
materializes a date-partitioned copy of ``events`` once per (session,
sf) into a temp dir — the layout ``partitionBy("event_date")`` that a
production ingest job would write — and the declared query reads it
back through a partition predicate.

tests/test_plans.py asserts the plan shows non-empty PartitionFilters
and that the pruned scan reads only the matching directories.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# Single-process assumption: concurrent processes sharing the same
# /tmp layout dir would race overwrite-vs-read.
def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) and return the date-partitioned events layout:
    ``.../event_date=YYYY-MM-DD/part-*.parquet``."""

    def build() -> str:
        # Stable digest (not Python's randomized str hash) so repeated
        # processes reuse/overwrite ONE directory per sf instead of
        # leaving a fresh full copy in /tmp per run.
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(), f"ktps_part_events_{digest}")
        ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
        ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
        return out

    return memo(spark, sf_dir, "partitioned_events", build)


DELETE_USER = 7


@query(
    "q_delete_compact",
    oracle=f"""
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM events
WHERE user_id <> {DELETE_USER}
""",
)
def q_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted deletion + compaction (the GDPR-erasure / takedown op
    of a training-data pipeline): remove one user's rows from the
    date-partitioned events layout by rewriting ONLY the partitions
    that contain them, via dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic``). At 100 TB
    this touches |affected days| of data instead of the whole table —
    the difference between an hours-long full rewrite and a targeted
    one. The oracle is the logical result (source minus user): reading
    the rewritten layout back must equal it exactly, proving both the
    delete and the untouched-partition preservation."""

    def build() -> str:
        src = partitioned_events_path(spark, sf_dir)
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        dst = os.path.join(tempfile.gettempdir(), f"ktps_delete_{digest}")
        # working copy of the layout (stands in for the production table)
        spark.read.parquet(src).write.mode("overwrite").partitionBy("event_date").parquet(dst)

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        tbl = spark.read.parquet(dst)
        affected = [
            r["event_date"]
            for r in tbl.filter(F.col("user_id") == DELETE_USER)
            .select("event_date")
            .distinct()
            .collect()
        ]
        if affected:
            # rewrite only the affected day-partitions, keeping their
            # other users' rows; dynamic mode leaves every other
            # partition directory untouched
            (
                tbl.filter(
                    F.col("event_date").isin(affected)
                    & (F.col("user_id") != DELETE_USER)
                )
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(dst)
            )
        return dst

    out = spark.read.parquet(memo(spark, sf_dir, "delete_compact", build))
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
    )


# MERGE change-set: user MERGE_USER's events in a 3-day window get
# their type rewritten (WHEN MATCHED → UPDATE) and re-inserted as
# offset-keyed backfill rows (WHEN NOT MATCHED → INSERT).
MERGE_USER = 3
MERGE_FROM, MERGE_TO = "2024-01-05", "2024-01-07"
MERGE_OFFSET = 10_000_000


@query(
    "q_merge_upsert",
    oracle=f"""
WITH src AS (
  SELECT event_id, user_id, 'purged' AS event_type, ts FROM events
  WHERE user_id = {MERGE_USER}
    AND CAST(ts AS DATE) BETWEEN DATE '{MERGE_FROM}' AND DATE '{MERGE_TO}'
  UNION ALL
  SELECT event_id + {MERGE_OFFSET}, user_id, 'backfill', ts FROM events
  WHERE user_id = {MERGE_USER}
    AND CAST(ts AS DATE) BETWEEN DATE '{MERGE_FROM}' AND DATE '{MERGE_TO}'
)
SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM events WHERE event_id NOT IN (SELECT event_id FROM src)
UNION ALL
SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM src
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) on the date-partitioned layout — the
    lakehouse op Spark lacks without a table format: apply a keyed
    change-set (updates to existing rows + inserts of new rows) by
    rewriting ONLY the partitions the change-set touches, via dynamic
    partition overwrite. The merge of one partition is (target rows
    LEFT ANTI JOIN source on the key) ∪ source — at 100 TB the anti
    join runs per affected partition and the source side broadcasts
    (change-sets are small relative to the table), so cost is
    |affected partitions|, not |table|. The oracle recomputes the
    merged table logically from the unpartitioned source, proving the
    update branch, the insert branch, and untouched-partition
    preservation at once."""

    def build() -> str:
        src_layout = partitioned_events_path(spark, sf_dir)
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        dst = os.path.join(tempfile.gettempdir(), f"ktps_merge_{digest}")
        spark.read.parquet(src_layout).write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(dst)

        tbl = spark.read.parquet(dst)
        base = tbl.filter(
            (F.col("user_id") == MERGE_USER)
            & F.col("event_date").between(F.lit(MERGE_FROM), F.lit(MERGE_TO))
        )
        # Carry every table column (value, props, ...) so the change
        # set unions cleanly with the target schema.
        updates = base.withColumn("event_type", F.lit("purged"))
        inserts = base.withColumn(
            "event_id", F.col("event_id") + MERGE_OFFSET
        ).withColumn("event_type", F.lit("backfill"))
        change_set = updates.unionByName(inserts)

        affected = [
            r["event_date"]
            for r in change_set.select("event_date").distinct().collect()
        ]
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        merged_parts = (
            tbl.filter(F.col("event_date").isin(affected))
            .join(F.broadcast(change_set.select("event_id")), "event_id", "left_anti")
            .unionByName(change_set)
        )
        merged_parts.write.mode("overwrite").partitionBy("event_date").parquet(dst)
        return dst

    out = spark.read.parquet(memo(spark, sf_dir, "merge_upsert", build))
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
    )


@query(
    "q_partition_pruning",
    oracle="""
SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
""",
)
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of the date-partitioned layout under a date predicate: the
    filter binds to the partition column, so Spark prunes whole
    directories (PartitionFilters) — I/O is proportional to the days
    selected, not the table size. The oracle recomputes from the
    unpartitioned source, proving the partitioned copy is lossless and
    the pruning correct."""
    path = partitioned_events_path(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.filter(
        F.col("event_date").between(F.lit("2024-01-02"), F.lit("2024-01-03"))
    ).select("event_id", "user_id", "event_type", "event_date")


@query(
    "q_join_dpp",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
       CAST(count(*) AS BIGINT) AS n
FROM events
WHERE day(ts) <= 3
GROUP BY 1
""",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime companion to
    q_partition_pruning's static directory pruning: the fact side is
    the date-partitioned events layout, the dim side is a small
    filtered date list that only exists at runtime, and Catalyst
    injects the dim's build-side values as a partition filter
    (``dynamicpruningexpression``) into the fact scan — so the fact
    reads ONLY the partitions the dim join can match, without any
    static predicate on the fact. At 100 TB this is the star-join
    scan lever: a selective dim filter prunes the fact's partition
    tree before a single fact row is read. Plan pinned in
    tests/test_plans.py."""
    fact = spark.read.parquet(partitioned_events_path(spark, sf_dir))
    dim = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") <= 3)
    )
    return (
        fact.join(dim, fact.event_date == dim.d)
        .groupBy("event_date")
        .agg(F.count("*").alias("n"))
    )
