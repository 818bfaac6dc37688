"""Loaders for the driver-generated test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table under an sf dir.

Each table's schema is inferred once per session and kept as metadata
in ``cache.py``'s store (:func:`schema`): a ``spark.read.parquet`` with
no schema runs one Spark job to infer it (Spark 4 merges footers in a
job even for a single file), about 50 ms per load on one CPU, and every
operator starts with a load. The schema is a fact about the file, not a
cached result, so it outlives ``clear_caches``: a cold pass re-plans
and re-reads the data, but does not learn the schema again. Its key is
the file's path with its ``st_mtime_ns`` and ``st_size``, so a table
rewritten in place in the same session is inferred again. Only the
schema is shared: each :func:`load` is a fresh relation with fresh
attribute ids, so a self-join over two loads plans as before.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from kafka_to_parquet_spark.cache import metadata

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Spark's inferred schema of one table file, inferred once per
    (session, file identity) — the one place a fixture table's schema
    is inferred, for the batch loader and the stream readers alike.

    Sets the two confs the read depends on, on every call, because a
    caller may run queries on its own SparkSession:

    - ``events.ts`` has shipped as two physical types across fixture
      generations: parquet TIMESTAMP(NANOS), which Spark 4 rejects
      outright (PARQUET_TYPE_ILLEGAL) unless the legacy ``nanosAsLong``
      conf reads it as a long, and plain TIMESTAMP(MICROS);
      :func:`normalize_event_ts` handles both.
    - timestamp[us] parquet columns load as TIMESTAMP_NTZ under Spark
      4's inferTimestampNTZ default; epoch extraction on NTZ is
      interpreted in the session timezone, so pin it to UTC (= DuckDB's
      naive-timestamp semantics).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    return metadata(
        spark,
        path,
        f"schema@{st.st_mtime_ns}:{st.st_size}",
        lambda: spark.read.parquet(path).schema,
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Plain parquet scan with the known
    :func:`schema` (no inference job) → Catalyst gets pushdown +
    pruning on anything layered on top. ``events.ts`` is normalized to
    TIMESTAMP; the ns→µs truncation matches DuckDB's, so oracle
    comparisons stay exact across fixture generations."""
    df = spark.read.schema(schema(spark, sf_dir, name)).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(df):
    """Normalize events.ts to TIMESTAMP across fixture generations —
    the ONE definition shared by the batch loader above and the
    streaming reader (streaming/stateful.py::_stream_events), so the
    next physical-type change is fixed in a single place:

    - TIMESTAMP(NANOS) read as long under nanosAsLong → truncate to
      µs (matches DuckDB's truncation, oracle-exact);
    - TIMESTAMP(MICROS) inferred as NTZ under Spark 4 → cast to
      TIMESTAMP (identity under the pinned UTC session tz)."""
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
