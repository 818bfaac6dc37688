"""End-to-end Structured Streaming sink run: readStream over the
events parquet → Kafka-record shape → foreachBatch count-batched
parquet sink (the reference's S5 layout) with checkpointing."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from kafka_to_parquet_spark.sinks.parquet_batch import streaming_sink
from kafka_to_parquet_spark.sources.kafka_analog import kafka_records
from kafka_to_parquet_spark.streaming.observability import attach_listener
from kafka_to_parquet_spark.streaming.stateful import _stream_events


def test_streaming_sink_end_to_end(spark, sf_dir, tmp_path):
    stream = _stream_events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("offset"),
        (F.col("event_id") % 4).cast("int").alias("partition"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("value"),
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_sink(stream, out, ckpt, batch_size=100).start()
    qid = str(q.id)
    q.awaitTermination()

    # T2 observability: the listener attached by streaming_sink captured
    # this run's lifecycle — assignment (started), per-batch offset
    # commits (progress, with committed end offsets), and release
    # (terminated) — the reference's rebalance/commit log hooks
    # (reference src/main.rs:42-54). Delivery is async → poll.
    listener = attach_listener(spark)
    assert listener.wait_for("started", qid) is not None
    prog = listener.wait_for("progress", qid)
    assert prog is not None and prog["num_input_rows"] > 0
    assert prog["sources"] and prog["sources"][0]["end_offset"] is not None
    term = listener.wait_for("terminated", qid)
    assert term is not None and term["exception"] is None

    files = glob.glob(os.path.join(out, "epoch_*", "*.parquet"))
    assert files, "no files written by the streaming sink"
    assert all(
        re.match(r"partition_\d+_batch_\d+\.parquet$", os.path.basename(f)) for f in files
    )
    n_in = kafka_records(spark, sf_dir).count()
    n_out = spark.read.parquet(os.path.join(out, "epoch_*")).count()
    assert n_out == n_in  # lossless incl. final partial batch

    # exactly-once on restart: rerunning with the same checkpoint and no
    # new data must write nothing new
    q2 = streaming_sink(stream, out, ckpt, batch_size=100).start()
    q2.awaitTermination()
    assert spark.read.parquet(os.path.join(out, "epoch_*")).count() == n_in


N_PARTS, PER_FILE, SINK_BATCH = 3, 45, 10


def _write_source_file(src: str, k: int) -> None:
    """Source file ``k``: records PER_FILE*k .. PER_FILE*(k+1)-1, round-
    robin over N_PARTS partitions, with a null and an invalid UTF-8
    payload (both decode to "")."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = range(PER_FILE * k, PER_FILE * (k + 1))
    values = [None if i % 17 == 0 else b"\xff" if i % 19 == 0 else f"m{i}".encode() for i in ids]
    pq.write_table(
        pa.table({
            "partition": pa.array([i % N_PARTS for i in ids], pa.int32()),
            "offset": pa.array(list(ids), pa.int64()),
            "value": pa.array(values, pa.binary()),
        }),
        os.path.join(src, f"part-{k:03d}.parquet"),
    )


def _expected(n_files: int) -> dict[int, list[str]]:
    want: dict[int, list[str]] = {p: [] for p in range(N_PARTS)}
    for i in range(PER_FILE * n_files):
        want[i % N_PARTS].append("" if i % 17 == 0 or i % 19 == 0 else f"m{i}")
    return want


def _drop_commit(ckpt: str, epoch: int) -> None:
    """Crash after the epoch's files were published but before Spark
    wrote its commit: remove the commit log entry (and its checksum)."""
    commits = os.path.join(ckpt, "commits")
    os.remove(os.path.join(commits, str(epoch)))
    crc = os.path.join(commits, f".{epoch}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_streaming_sink_exactly_once_across_crashes(spark, tmp_path):
    """Exactly-once under failure: a replayable source, Spark's offset
    log and atomically published, idempotent epochs. Two crash points
    are simulated on the checkpoint and output directory — a crash
    after an epoch was published but before its commit, and a crash
    mid-write that left a torn staging directory — and each restart
    from the same checkpoint consumes more input. Every record appears
    exactly once, in offset order, in dense batches with a REQUIRED
    ``b``, and nothing hidden is left behind."""
    from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField, StructType

    from perfbench.checks import compare_partitions, read_batch_dir

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = StructType([
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("value", BinaryType()),
    ])
    # Each run adds one source file, so each file is one epoch: two new
    # files in one run could be read in either order when their
    # modification times tie.
    stream = spark.readStream.schema(schema).parquet(src)

    def drain() -> None:
        q = streaming_sink(stream, out, ckpt, batch_size=SINK_BATCH).start()
        q.awaitTermination()
        assert q.exception() is None

    _write_source_file(src, 0)
    drain()  # epoch 0

    # Crash point 1: epoch 0 published, its commit lost. The replay
    # must replace the published copy (the marker goes with it).
    _drop_commit(ckpt, 0)
    marker = os.path.join(out, "epoch_0", ".marker")
    open(marker, "w").close()
    _write_source_file(src, 1)
    drain()  # replays epoch 0, then epoch 1
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not os.path.exists(marker)

    # Crash point 2: epoch 1 died mid-write, leaving a torn staging
    # directory with a partial file and a stray hidden temp file.
    _drop_commit(ckpt, 1)
    staging = os.path.join(out, ".epoch_1.staging")
    os.makedirs(staging)
    whole = open(os.path.join(out, "epoch_1", "partition_0_batch_0.parquet"), "rb").read()
    with open(os.path.join(staging, "partition_0_batch_0.parquet"), "wb") as f:
        f.write(whole[: len(whole) // 2])
    with open(os.path.join(staging, ".tmp-partition_1_batch_1.parquet"), "wb") as f:
        f.write(whole[:10])
    _write_source_file(src, 2)
    drain()  # replays epoch 1, then epoch 2

    epochs = sorted(int(d.split("_")[1]) for d in os.listdir(out) if d.startswith("epoch_"))
    assert epochs == [0, 1, 2]
    got: dict[int, list[str]] = {}
    for e in epochs:
        rows, problems = read_batch_dir(os.path.join(out, f"epoch_{e}"), SINK_BATCH)
        assert problems == [], (e, problems)
        for p, r in rows.items():
            got.setdefault(p, []).extend(r)
    assert compare_partitions(got, _expected(3)) == []

    hidden = [
        os.path.join(root, name)
        for root, dirs, files in os.walk(out)
        for name in dirs + files
        if name.startswith(".tmp-") or re.match(r"\.epoch_\d+\.staging$", name)
    ]
    assert hidden == []
