"""(R)-tier semantics: the behaviors the reference actually implements
(SURVEY §2, rows S1-S7/P1), asserted as invariants.

Reference: /root/reference/src/main.rs (cited per test)."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from kafka_to_parquet_spark.sinks.parquet_batch import write_partition_batches
from kafka_to_parquet_spark.sources.kafka_analog import BATCH_SIZE, kafka_records


def test_decode_null_payload_becomes_empty_string(run):
    """main.rs:240-247: missing/invalid payload → "" — and the row is
    still written, so row count is preserved."""
    scan = run("q_kafka_scan").cache()
    decoded = run("q_decode_utf8")
    assert decoded.count() == scan.count()
    n_null_in = scan.filter(F.col("value").isNull()).count()
    assert n_null_in > 0  # fixture exercises the path
    assert decoded.filter(F.col("b") == "").count() >= n_null_in
    assert decoded.filter(F.col("b").isNull()).count() == 0


def test_project_payload_single_column(run):
    """main.rs:113-117: persisted schema is exactly one string col b."""
    df = run("q_project_payload")
    assert [f.name for f in df.schema.fields] == ["b"]
    assert df.schema["b"].dataType.typeName() == "string"


def test_count_batcher_batch_sizes(run):
    """main.rs:232-267: every batch has exactly batch_size rows except
    the last per partition; batch ids are dense from 0."""
    df = run("q_count_batcher")
    per_batch = df.groupBy("partition", "batch_id").count().collect()
    by_part = {}
    for r in per_batch:
        by_part.setdefault(r["partition"], {})[r["batch_id"]] = r["count"]
    for p, batches in by_part.items():
        ids = sorted(batches)
        assert ids == list(range(len(ids))), f"partition {p} ids not dense"
        for b in ids[:-1]:
            assert batches[b] == BATCH_SIZE, f"partition {p} batch {b}"
        assert 1 <= batches[ids[-1]] <= BATCH_SIZE


def test_path_format(run):
    """main.rs:274-283: output/partition_{p}_batch_{b}.parquet."""
    paths = [r["path"] for r in run("q_str_concat").collect()]
    pat = re.compile(r"^output/partition_\d+_batch_\d+\.parquet$")
    assert paths and all(pat.match(p) for p in paths)


def test_sink_writes_reference_layout(spark, sf_dir, tmp_path):
    """S5 end-to-end: files named partition_{p}_batch_{b}.parquet, one
    REQUIRED string column b, lossless round-trip including the final
    partial batch (deliberate upgrade over main.rs:268's loss window)."""
    out = str(tmp_path)
    rec = kafka_records(spark, sf_dir)
    manifest = write_partition_batches(rec, out, BATCH_SIZE).collect()
    n_in = rec.count()
    assert sum(m["n_rows"] for m in manifest) == n_in
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) == len(manifest)
    assert all(re.match(r"partition_\d+_batch_\d+\.parquet$", os.path.basename(f)) for f in files)
    back = spark.read.parquet(out)
    assert [f.name for f in back.schema.fields] == ["b"]
    assert back.count() == n_in
    # REQUIRED column: parquet-level nullability
    import pyarrow.parquet as pq

    assert not pq.read_schema(files[0]).field("b").nullable


def test_sink_batch_size_edges(spark, sf_dir, tmp_path):
    """batch_size larger than the data → exactly one file per source
    partition holding all its rows (the final-partial-batch case the
    reference never flushes, main.rs:236-272)."""
    out = str(tmp_path)
    rec = kafka_records(spark, sf_dir)
    manifest = write_partition_batches(rec, out, batch_size=10**9).collect()
    n_parts = rec.select("partition").distinct().count()
    assert len(manifest) == n_parts
    assert sum(m["n_rows"] for m in manifest) == rec.count()
    assert all(m["batch_id"] == 0 for m in manifest)


def test_sink_decodes_invalid_utf8_to_empty_string(spark, tmp_path):
    """main.rs:240-247: an invalid UTF-8 payload decodes to "" like a
    null one — the sink writes it instead of aborting, and ``b`` stays
    REQUIRED."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({
            "partition": pa.array([0, 0, 1, 1], pa.int32()),
            "offset": pa.array([0, 1, 0, 1], pa.int64()),
            "value": pa.array([b"ok 0", b"\xff\xfe bad", None, b"ok 1"], pa.binary()),
        }),
        os.path.join(src, "part-0.parquet"),
    )
    out = tmp_path / "out"
    out.mkdir()
    write_partition_batches(spark.read.parquet(str(src)), str(out)).collect()
    written = {
        os.path.basename(f): pq.read_table(f)
        for f in glob.glob(os.path.join(out, "*.parquet"))
    }
    assert {name: t.column("b").to_pylist() for name, t in written.items()} == {
        "partition_0_batch_0.parquet": ["ok 0", ""],
        "partition_1_batch_0.parquet": ["", "ok 1"],
    }
    assert not any(t.schema.field("b").nullable for t in written.values())


def test_synth_generator_shape(run):
    """S7 (main.rs:59-96): N messages, payload 'Message {i}', key
    'Key {i}', one header header_key=header_value."""
    rows = run("q_synth_generator").collect()
    assert len(rows) == 1000
    r = {row["id"]: row for row in rows}
    assert r[7]["value"] == "Message 7"
    assert r[7]["key"] == "Key 7"
