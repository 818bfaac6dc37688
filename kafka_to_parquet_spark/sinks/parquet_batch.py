"""Parquet sink with the reference's file layout (S5).

The reference writes each count-batch as a single-column UTF-8 parquet
file ``output/partition_{p}_batch_{b}.parquet`` with a REQUIRED
(non-nullable) column ``b`` (ParquetWritter, main.rs:99-139; path
main.rs:274-283; schema main.rs:113-117).

Spark's native parquet writer names files ``part-*`` and can't emit
one exactly-named file per logical batch, so the layout is honored
with a grouped Arrow writer: assign batch ids with the window
formulation (q_count_batcher), then ``groupBy(partition, batch_id).
applyInPandas`` where each group writes its own file via pyarrow and
returns a one-row manifest. Writes happen executor-side (no driver
collect); on a cluster ``out_dir`` must be a shared filesystem. The
number of concurrently open files per task is 1, and each group is one
batch (≤ batch_size rows) — bounded memory at any scale.

Delivery semantics: the reference commits Kafka offsets per-message
*before* flushing the batch (main.rs:268), so a crash loses up to
batch_size−1 buffered rows and a final partial batch is never written
(no EOF handling, main.rs:213/236). We deliberately upgrade: batch
mode writes all rows including the final partial batch; streaming mode
(``streaming_sink``) gets checkpoint-based exactly-once from Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import TempDataset, memo
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.sources.kafka_analog import (
    BATCH_SIZE,
    decode_payload,
    kafka_records,
    with_batch_id,
)

# The reference's output schema: one REQUIRED UTF-8 column named b
# (main.rs:113-117). nullable=False makes the parquet field REQUIRED.
_SINK_SCHEMA = pa.schema([pa.field("b", pa.string(), nullable=False)])

MANIFEST_SCHEMA = "partition int, batch_id long, n_rows long, path string"


def write_partition_batches(
    records: DataFrame, out_dir: str, batch_size: int = BATCH_SIZE
) -> DataFrame:
    """Write decoded payloads as ``{out_dir}/partition_{p}_batch_{b}.parquet``
    (single row group per file, like the reference, main.rs:121/136).

    ``records`` needs columns (partition, offset, value). Returns the
    manifest DataFrame (partition, batch_id, n_rows, path) — an action
    on it performs the write.
    """
    os.makedirs(out_dir, exist_ok=True)
    decoded = records.select(
        "partition",
        "offset",
        decode_payload(F.col("value")).alias("b"),
    )
    batched = with_batch_id(decoded, batch_size)

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["partition"].iloc[0])
        b = int(pdf["batch_id"].iloc[0])
        path = os.path.join(out_dir, f"partition_{p}_batch_{b}.parquet")
        ordered = pdf.sort_values("offset")  # preserve offset order within the file
        table = pa.Table.from_arrays([pa.array(ordered["b"], type=pa.string())], schema=_SINK_SCHEMA)
        pq.write_table(table, path)  # one row group: single write_table call
        return pd.DataFrame(
            {"partition": [p], "batch_id": [b], "n_rows": [len(pdf)], "path": [path]}
        )

    return batched.groupBy("partition", "batch_id").applyInPandas(
        _write_group, schema=MANIFEST_SCHEMA
    )


def streaming_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, batch_size: int = BATCH_SIZE
):
    """Streaming form: foreachBatch re-uses the same batch writer per
    micro-batch (exactly-once via checkpoint + idempotent re-write of
    deterministically-named files). ``stream_df`` is a Kafka-schema
    stream (sources.kafka.kafka_stream).

    Attaches the T2 observability listener (streaming/observability.py)
    so every run logs assignment / per-batch commit / termination — the
    reference's pre_rebalance / post_rebalance / commit_callback hooks
    (reference src/main.rs:42-54)."""
    from kafka_to_parquet_spark.streaming.observability import attach_listener

    attach_listener(stream_df.sparkSession)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(out_dir, f"epoch_{epoch_id}")
        write_partition_batches(batch_df, epoch_dir, batch_size).count()

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


@query(
    "q_parquet_roundtrip",
    oracle="""
SELECT CASE WHEN event_type = 'error' THEN '' ELSE props END AS b
FROM events
""",
)
def q_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: full sink round-trip — decode the record stream, write the
    reference file layout, read every file back. The oracle is the
    decoded input: equality proves the sink is lossless (row count and
    values), including ""-decoded null payloads and the final partial
    batch the reference would drop."""
    # Stable per-(application, sf) directory: repeated calls in one
    # session overwrite the same deterministically-named files instead
    # of leaking one dataset copy per invocation, while CONCURRENT
    # processes (bench alongside pytest) get disjoint directories —
    # a shared sf-only path let one process read files mid-rewrite by
    # the other, and stale higher-numbered batch files from a previous
    # layout could survive into the read-back. The directory is a
    # cache-owned TempDataset: the layout stays on disk for post-hoc
    # inspection until clear_caches (or process exit) removes it.
    def build() -> TempDataset:
        digest = hashlib.md5(
            f"{spark.sparkContext.applicationId}_{sf_dir}".encode()
        ).hexdigest()[:8]
        return TempDataset(
            os.path.join(tempfile.gettempdir(), f"ktps_roundtrip_{digest}")
        )

    out_dir = memo(spark, sf_dir, "parquet_roundtrip_dir", build)
    shutil.rmtree(out_dir, ignore_errors=True)  # drop any stale layout
    rec = kafka_records(spark, sf_dir)
    manifest = write_partition_batches(rec, out_dir, BATCH_SIZE)
    manifest.count()  # action: perform the distributed write
    # Materialize the read-back (files are still genuinely read — the
    # checkpoint just pins the rows) so the returned frame survives the
    # next invocation's rmtree of the same directory.
    return spark.read.parquet(out_dir).select("b").localCheckpoint(eager=True)
