"""Parquet sink with the reference's file layout (S5).

The reference writes each count-batch as a single-column UTF-8 parquet
file ``output/partition_{p}_batch_{b}.parquet`` with a REQUIRED
(non-nullable) column ``b`` (ParquetWritter, main.rs:99-139; path
main.rs:274-283; schema main.rs:113-117).

Spark's native parquet writer names files ``part-*`` and can't emit
one exactly-named file per logical batch, so the layout is written by
one Arrow pass: decode, ``repartition("partition")``,
``sortWithinPartitions("partition", "offset")``, then one
``mapInArrow`` that walks each Kafka partition's run through the
sorted Arrow batches, buffers at most ``batch_size`` rows and writes a
file whenever the buffer fills or the run ends. The batch id is the
slice index within the run, the id ``with_batch_id``'s window assigns
(tests/test_reference_parity.py holds the two equal), so the sink
needs neither the window nor pandas. Hash partitioning sends all of a
Kafka partition's rows to one task, and AQE may coalesce hash
partitions but never splits one, so a run is never cut across tasks.
Writes happen executor-side (no driver collect); on a cluster
``out_dir`` must be a shared filesystem. A task holds at most one
batch of rows and one open file: bounded memory at any scale.

Publishing is atomic per file and per epoch. Each file is written to
a hidden ``.tmp-partition_{p}_batch_{b}.parquet`` and ``os.replace``-d
to its final name, so no reader sees a torn file, and a retried task
overwrites its predecessor's hidden file. ``streaming_sink`` writes
each epoch into a hidden ``.epoch_{id}.staging`` directory and renames
it to ``epoch_{id}`` only after the write job has succeeded.

Delivery semantics: the reference commits Kafka offsets per-message
*before* flushing the batch (main.rs:268), so a crash loses up to
batch_size−1 buffered rows and a final partial batch is never written
(no EOF handling, main.rs:213/236). We deliberately upgrade: batch
mode writes all rows including the final partial batch; streaming mode
(``streaming_sink``) is exactly-once: a replayable source, Spark's
offset log and an idempotent, atomically published epoch.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo, temp_dataset
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.sources.kafka_analog import (
    BATCH_SIZE,
    decode_payload,
    kafka_records,
)

# The reference's output schema: one REQUIRED UTF-8 column named b
# (main.rs:113-117). nullable=False makes the parquet field REQUIRED.
_SINK_SCHEMA = pa.schema([pa.field("b", pa.string(), nullable=False)])

MANIFEST_SCHEMA = "partition int, batch_id long, n_rows long, path string, bytes long"
# The same columns as Arrow types: the writer's output batches must
# match MANIFEST_SCHEMA field for field.
_MANIFEST_ARROW = pa.schema([
    ("partition", pa.int32()),
    ("batch_id", pa.int64()),
    ("n_rows", pa.int64()),
    ("path", pa.string()),
    ("bytes", pa.int64()),
])


def _batch_writer(out_dir: str, batch_size: int):
    """The ``mapInArrow`` function: consume Arrow batches of
    (partition, offset, b) sorted by (partition, offset), write one file
    per ``batch_size`` rows of each partition's run and yield a manifest
    row per file."""

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        p, b = None, 0  # the partition whose run is open, its next batch id
        chunks: list[pa.Array] = []  # the open batch's rows
        n = 0
        manifest: list[dict] = []

        def flush() -> None:
            nonlocal chunks, n, b
            name = f"partition_{p}_batch_{b}.parquet"
            path = os.path.join(out_dir, name)
            tmp = os.path.join(out_dir, f".tmp-{name}")
            # large_string when spark.sql.execution.arrow.useLargeVarTypes is on
            column = pa.chunked_array(chunks).cast(pa.string())
            # one write_table call: one row group, like the reference
            pq.write_table(pa.Table.from_arrays([column], schema=_SINK_SCHEMA), tmp)
            os.replace(tmp, path)
            manifest.append({
                "partition": p, "batch_id": b, "n_rows": n, "path": path,
                "bytes": os.path.getsize(path),
            })
            chunks, n, b = [], 0, b + 1

        def emit() -> pa.RecordBatch:
            out = pa.RecordBatch.from_pylist(manifest, schema=_MANIFEST_ARROW)
            manifest.clear()
            return out

        for rb in batches:
            if rb.num_rows == 0:
                continue
            part = rb.column("partition").to_numpy()
            vals = rb.column("b")
            bounds = [0, *(np.flatnonzero(np.diff(part)) + 1).tolist(), len(part)]
            for lo, hi in zip(bounds, bounds[1:]):
                if part[lo] != p:  # a new run: close the previous one
                    if n:
                        flush()
                    p, b = int(part[lo]), 0
                while lo < hi:
                    take = min(batch_size - n, hi - lo)
                    chunks.append(vals.slice(lo, take))
                    n, lo = n + take, lo + take
                    if n == batch_size:
                        flush()
            if manifest:
                yield emit()
        if n:
            flush()
        if manifest:
            yield emit()

    return write


def write_partition_batches(
    records: DataFrame, out_dir: str, batch_size: int = BATCH_SIZE
) -> DataFrame:
    """Write decoded payloads as ``{out_dir}/partition_{p}_batch_{b}.parquet``
    (single row group per file, like the reference, main.rs:121/136).

    ``records`` needs columns (partition, offset, value). Returns the
    manifest DataFrame (partition, batch_id, n_rows, path, bytes), one
    row per published file with its size on disk — an action on it
    performs the write.
    """
    os.makedirs(out_dir, exist_ok=True)
    decoded = records.select(
        "partition",
        "offset",
        decode_payload(F.col("value")).alias("b"),
    )
    ordered = decoded.repartition("partition").sortWithinPartitions("partition", "offset")
    return ordered.mapInArrow(_batch_writer(out_dir, batch_size), MANIFEST_SCHEMA)


def streaming_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, batch_size: int = BATCH_SIZE
):
    """Streaming form: foreachBatch re-uses the same batch writer per
    micro-batch. Each epoch is written into the hidden
    ``{out_dir}/.epoch_{id}.staging`` (a torn one left by a crashed
    attempt is removed first) and, after the job, renamed to
    ``{out_dir}/epoch_{id}``, replacing an earlier copy. A replayed
    epoch (its files published, its commit not yet written) reads the
    same offsets, so it replaces itself with the same content:
    exactly-once via checkpoint + idempotent, atomically published
    epochs. ``stream_df`` is a Kafka-schema stream
    (sources.kafka.kafka_stream).

    Attaches the T2 observability listener (streaming/observability.py)
    so every run logs assignment / per-batch commit / termination — the
    reference's pre_rebalance / post_rebalance / commit_callback hooks
    (reference src/main.rs:42-54)."""
    from kafka_to_parquet_spark.streaming.observability import attach_listener

    attach_listener(stream_df.sparkSession)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(out_dir, f"epoch_{epoch_id}")
        staging = os.path.join(out_dir, f".epoch_{epoch_id}.staging")
        shutil.rmtree(staging, ignore_errors=True)
        write_partition_batches(batch_df, staging, batch_size).count()
        shutil.rmtree(epoch_dir, ignore_errors=True)
        os.rename(staging, epoch_dir)

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
    # Stable per-(application, sf) directory (see temp_dataset): stale
    # higher-numbered batch files from a previous layout are removed
    # before the write so they cannot survive into the read-back. The
    # layout stays on disk for post-hoc inspection until clear_caches
    # (or process exit) removes it.
    out_dir = memo(
        spark,
        sf_dir,
        "parquet_roundtrip_dir",
        lambda: temp_dataset(spark, sf_dir, "roundtrip"),
    )
    shutil.rmtree(out_dir, ignore_errors=True)  # drop any stale layout
    rec = kafka_records(spark, sf_dir)
    manifest = write_partition_batches(rec, out_dir, BATCH_SIZE)
    manifest.count()  # action: perform the distributed write
    # Materialize the read-back (files are still genuinely read — the
    # checkpoint just pins the rows) so the returned frame survives the
    # next invocation's rmtree of the same directory.
    return spark.read.parquet(out_dir).select("b").localCheckpoint(eager=True)
