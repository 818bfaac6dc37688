"""(R)-tier semantics: the behaviors the reference actually implements
(SURVEY §2, rows S1-S7/P1), asserted as invariants.

Reference: /root/reference/src/main.rs (cited per test)."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from kafka_to_parquet_spark.sinks.parquet_batch import write_partition_batches
from kafka_to_parquet_spark.sources.kafka_analog import (
    BATCH_SIZE,
    decode_payload,
    kafka_records,
    with_batch_id,
)


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


# One file spans several 7-row Arrow batches, and the single shuffle
# partition puts every Kafka partition in one task. The session pins
# AQE's initial partition count, which overrides
# spark.sql.shuffle.partitions, so it is set to 1 as well.
_SLICING_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1",
}


@pytest.mark.parametrize("batch_size", [1, BATCH_SIZE, 10**9])
def test_sink_slices_like_with_batch_id(spark, sf_dir, tmp_path, batch_size):
    """The sink's slice index is the batch id ``with_batch_id``'s window
    assigns (the independent reference, q_count_batcher's rule): the
    same (partition, batch) layout holding the same payloads in offset
    order, when one file spans several Arrow batches and one task
    holds several Kafka partitions."""
    import pyarrow.parquet as pq

    rec = kafka_records(spark, sf_dir)
    saved = {k: spark.conf.get(k, None) for k in _SLICING_CONF}
    try:
        for k, v in _SLICING_CONF.items():
            spark.conf.set(k, v)
        manifest = write_partition_batches(rec, str(tmp_path), batch_size).collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    decoded = rec.select("partition", "offset", decode_payload(F.col("value")).alias("b"))
    want: dict[tuple[int, int], list[str]] = {}
    for r in with_batch_id(decoded, batch_size).orderBy("partition", "offset").collect():
        want.setdefault((r["partition"], r["batch_id"]), []).append(r["b"])

    got = {}
    for f in glob.glob(os.path.join(tmp_path, "*")):
        m = re.match(r"partition_(\d+)_batch_(\d+)\.parquet$", os.path.basename(f))
        assert m, f"unexpected file {f}"
        got[(int(m.group(1)), int(m.group(2)))] = pq.read_table(f).column("b").to_pylist()
    assert got == want
    assert {(m["partition"], m["batch_id"]): m["n_rows"] for m in manifest} == {
        k: len(v) for k, v in want.items()
    }
    assert sorted(m["path"] for m in manifest) == sorted(
        glob.glob(os.path.join(tmp_path, "*.parquet"))
    )


def test_sink_manifest_bytes_are_file_sizes(spark, sf_dir, tmp_path):
    """The manifest's ``bytes`` column is each published file's size on
    disk, so it sums to the directory's parquet bytes."""
    manifest = write_partition_batches(kafka_records(spark, sf_dir), str(tmp_path)).collect()
    assert all(m["bytes"] == os.path.getsize(m["path"]) for m in manifest)
    assert sum(m["bytes"] for m in manifest) == sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(tmp_path, "*.parquet"))
    )


# Payloads and the decoded ``b`` the reference gives them: Python's
# strict ``bytes.decode("utf-8")``, the rule of Rust's str::from_utf8
# (main.rs:240-247), with "" for a null or invalid payload. The first
# four are the sink test's rows.
PAYLOADS = [
    b"ok 0",
    b"\xff\xfe bad",
    None,
    b"ok 1",
    b"\xed\xa0\x80",  # an encoded surrogate
    b"\xc0\xaf",  # overlong forms
    b"\xe0\x80\xaf",
    b"\xf4\x90\x80\x80",  # above U+10FFFF
    b"\xe2\x82",  # truncated
    b"a\x00b",  # NUL
    b"\xef\xbb\xbfx",  # BOM
]


def _strict_utf8(payload: bytes | None) -> str:
    try:
        return "" if payload is None else payload.decode("utf-8")
    except UnicodeDecodeError:
        return ""


@pytest.mark.parametrize("payload", PAYLOADS, ids=repr)
def test_decode_payload_is_strict_utf8(spark, payload):
    """decode_payload keeps exactly the payloads a strict UTF-8 decoder
    accepts (NUL and a BOM pass through unchanged) and gives "" for a
    null one, encoded surrogates, overlong forms, code points above
    U+10FFFF and truncated sequences."""
    df = spark.createDataFrame([(payload,)], "value binary")
    assert df.select(decode_payload(F.col("value"))).first()[0] == _strict_utf8(payload)


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
            "value": pa.array(PAYLOADS[:4], pa.binary()),
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
