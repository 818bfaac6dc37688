"""Partitioned-layout operator invariants: MERGE upsert semantics and
partition preservation (sources/partitioned.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import _STORE
from kafka_to_parquet_spark.sources.partitioned import (
    MERGE_FROM,
    MERGE_OFFSET,
    MERGE_TO,
    MERGE_USER,
)
from kafka_to_parquet_spark.tables import load


def test_merge_upsert_semantics(spark, sf_dir, run):
    """Row count = |events| + |inserts|; every matched key now reads
    'purged'; every inserted key exists exactly once with 'backfill';
    rows outside the change-set are byte-identical to the source."""
    ev = load(spark, sf_dir, "events")
    in_window = ev.filter(
        (F.col("user_id") == MERGE_USER)
        & F.to_date("ts").between(F.lit(MERGE_FROM), F.lit(MERGE_TO))
    ).cache()
    n_changed = in_window.count()
    assert n_changed > 0, "fixture must contain user rows in the merge window"

    out = run("q_merge_upsert").cache()
    assert out.count() == ev.count() + n_changed

    updated = out.join(in_window.select("event_id"), "event_id")
    assert updated.count() == n_changed
    assert updated.filter(F.col("event_type") != "purged").count() == 0

    ins_keys = in_window.select(
        (F.col("event_id") + MERGE_OFFSET).alias("event_id")
    )
    inserted = out.join(ins_keys, "event_id")
    assert inserted.count() == n_changed
    assert inserted.filter(F.col("event_type") != "backfill").count() == 0

    # Untouched rows: identical projection to the source.
    changed_keys = in_window.select("event_id").unionByName(ins_keys)
    untouched_out = out.join(changed_keys, "event_id", "left_anti")
    untouched_src = ev.join(changed_keys, "event_id", "left_anti").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
    )
    assert untouched_out.exceptAll(untouched_src).count() == 0
    assert untouched_src.exceptAll(untouched_out).count() == 0


def test_merge_rewrites_only_affected_partitions(spark, sf_dir, run):
    """Dynamic partition overwrite must leave directories outside the
    merge window physically untouched. Every Spark write job stamps its
    part files with one job UUID (part-NNNNN-<uuid>...), so: unaffected
    partitions must carry the initial copy job's UUIDs only, and
    affected partitions the merge job's — a full-table rewrite would
    put the merge UUID everywhere."""

    def uuids(day_dir: str) -> set[str]:
        # part-00000-<uuid4>-c000.snappy.parquet → the 5 uuid groups
        return {
            "-".join(f.split("-")[2:7])
            for f in os.listdir(day_dir)
            if f.startswith("part-")
        }

    run("q_merge_upsert")
    dst, _ = _STORE[(spark, sf_dir, "merge_upsert")]
    inside: set[str] = set()
    outside: set[str] = set()
    for d in os.listdir(dst):
        if not d.startswith("event_date="):
            continue
        day = d.split("=", 1)[1]
        got = uuids(os.path.join(dst, d))
        assert got, f"partition {d} is empty"
        (inside if MERGE_FROM <= day <= MERGE_TO else outside).update(got)
    assert inside and outside
    assert inside.isdisjoint(outside), (
        "merge-job part files leaked into partitions outside the merge window"
    )
