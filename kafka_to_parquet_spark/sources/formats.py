"""Multi-format ingestion: JSONL and CSV round-trips.

The reference reads exactly one format (Kafka messages → Parquet,
src/main.rs:59-294). A corpus build additionally ingests JSONL dumps
(web-crawl exports ship as *.jsonl.gz) and CSV extracts. These queries
prove the format paths lossless end-to-end: write the fixture table
out in the target format once per (session, sf), read it back with an
EXPLICIT schema, and compare value-exact against the oracle reading
the original parquet.

Explicit schemas matter at 100 TB: schema inference is a full extra
pass over the data (Spark samples JSON/CSV files to guess types);
production readers declare the schema and make ingestion single-pass.
Compression (gzip here) rides along to keep the path realistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import TempDataset, memo, temp_dataset
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load


@query(
    "q_jsonl_roundtrip",
    oracle="""
SELECT doc_id, lang, source, n_chars, md5(text) AS text_fp
FROM documents
""",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion: documents → gzip JSONL → read back with the
    explicit schema (no inference pass) → must equal the source table
    value-exact (text integrity via md5). JSON string escaping
    (newlines, quotes, unicode) is exercised by the full text body.
    One file tree per (session, sf); the read is the measured path."""
    def build() -> TempDataset:
        out = temp_dataset(spark, sf_dir, "jsonl")
        load(spark, sf_dir, "documents").write.mode("overwrite").option(
            "compression", "gzip"
        ).json(out)
        return out

    d = load(spark, sf_dir, "documents")
    back = spark.read.schema(d.schema).json(memo(spark, sf_dir, "jsonl", build))
    return back.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_fp")
    )


@query(
    "q_csv_scan",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(round("value" * 100) AS BIGINT) AS value_c,
       md5(props) AS props_fp
FROM events
""",
)
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion: events → quoted CSV (header, gzip) → read back
    with explicit schema and timestamp parsing → value-exact vs the
    parquet source. ``props`` is a JSON string full of quotes and
    commas, so the quote/escape path is genuinely exercised (fingerprint
    compared); ``value`` is compared in integer cents — CSV serializes
    doubles as decimal strings, and exact-integer cents survive the
    round-trip while raw double formatting would not."""
    def build() -> TempDataset:
        out = temp_dataset(spark, sf_dir, "csv")
        ev = load(spark, sf_dir, "events")
        # Serialize ts as epoch micros (exact integer) — CSV timestamp
        # formatting/parsing round-trips sub-second precision only
        # through an explicit format; integers are unambiguous.
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            "props",
        ).write.mode("overwrite").option("header", True).option(
            "compression", "gzip"
        ).csv(out)
        return out

    schema = "event_id long, user_id long, event_type string, ts_us long, value double, props string"
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(memo(spark, sf_dir, "csv", build))
    )
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        # Integer division — a double divide could land an ulp below a
        # whole second and floor to second-1.
        F.expr("CAST(ts_us DIV 1000000 AS BIGINT)").alias("ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        F.md5("props").alias("props_fp"),
    )


@query(
    "q_orc_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate_s,
       o_orderpriority
FROM orders
""",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion: orders → ORC (zlib) → read back with the explicit
    schema → value-exact vs the parquet source. Exercises the second
    columnar container Spark ships natively (a lake migration path the
    reference's parquet-only sink lacks): doubles round-trip bit-exact
    through ORC's IEEE storage, and timestamps are compared at epoch
    seconds computed AFTER the round-trip, so a session-timezone
    mismatch between write and read would fail loudly rather than
    cancel out. One file tree per (session, sf); the read is the
    measured path."""
    def build() -> TempDataset:
        out = temp_dataset(spark, sf_dir, "orc")
        load(spark, sf_dir, "orders").write.mode("overwrite").option(
            "compression", "zlib"
        ).orc(out)
        return out

    src = load(spark, sf_dir, "orders")
    back = spark.read.schema(src.schema).orc(memo(spark, sf_dir, "orc", build))
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.floor(F.unix_timestamp("o_orderdate")).cast("long").alias("odate_s"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# Parquet schema evolution (mergeSchema)
# ---------------------------------------------------------------------------

EVOL_SPLIT_US = 7  # batch 1 = user_id % 7 != 0, batch 2 = the rest


def _evolved_layout(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet batches with DIFFERENT schemas in one directory:
    batch 1 (event_id, user_id, event_type) predates the ``value``
    column; batch 2 (event_id, user_id, event_type, value) adds it —
    the additive-column evolution every long-lived ingestion pipeline
    accumulates."""
    def build() -> TempDataset:
        out = temp_dataset(spark, sf_dir, "evolve")
        ev = load(spark, sf_dir, "events")
        old = ev.filter(F.col("user_id") % EVOL_SPLIT_US != 0).select(
            "event_id", "user_id", "event_type"
        )
        new = ev.filter(F.col("user_id") % EVOL_SPLIT_US == 0).select(
            "event_id", "user_id", "event_type", "value"
        )
        old.write.mode("overwrite").parquet(f"{out}/batch=1")
        new.write.mode("overwrite").parquet(f"{out}/batch=2")
        return out

    return memo(spark, sf_dir, "evolved_layout", build)


@query(
    "q_schema_evolution",
    oracle=f"""
SELECT event_id, user_id, event_type,
       CASE WHEN user_id % {EVOL_SPLIT_US} = 0 THEN value ELSE NULL END AS value
FROM events
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution: a directory holding parquet batches
    written MONTHS apart with different schemas (an early batch without
    the ``value`` column, a later batch with it) reads back as ONE
    unified table via ``mergeSchema`` — old rows surface NULL for the
    new column, new rows keep their values, nothing is rewritten. This
    is the evolution mode a 100 TB append-only lake must support: the
    alternative (rewriting history to the new schema) is a full-corpus
    pass per added column.

    Cost honesty: mergeSchema reconciles the FOOTERS of all files (a
    metadata operation, not a data pass) — cheap, but real lakes pin
    the merged schema in a catalog instead of re-merging per read;
    the explicit-schema discipline of q_jsonl_roundtrip applies once
    the schema is known. The oracle states the logical result: source
    events with ``value`` nulled exactly where the old-schema batch
    holds the row."""
    path = _evolved_layout(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
        .select("event_id", "user_id", "event_type", "value")
    )
