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
