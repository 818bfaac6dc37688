"""Self-tests of the benchmark's output checks: a missing, corrupted or
mis-shaped output file must count as a failed operation.

    python3 -m pytest perfbench/test_checks.py -q

Needs no Spark session; runs in a few seconds.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import check_drain, compare_to_oracle  # noqa: E402
from gen import make_topic  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import Run, check_stream_output  # noqa: E402

BATCH = 100
SCHEMA = pa.schema([pa.field("b", pa.string(), nullable=False)])


def write_layout(out_dir: str, rows: dict[int, list[str]], batch: int = BATCH) -> None:
    """Write ``rows`` the way the reference sink does."""
    os.makedirs(out_dir, exist_ok=True)
    for p, values in rows.items():
        for b in range(0, len(values), batch):
            table = pa.Table.from_arrays([pa.array(values[b : b + batch], pa.string())], schema=SCHEMA)
            pq.write_table(table, os.path.join(out_dir, f"partition_{p}_batch_{b // batch}.parquet"))


@pytest.fixture
def want():
    return make_topic(seed=7, n=1200).expected_payloads()


def new_run(tmp_path) -> Run:
    return Run(spark=None, tracer=Tracer(False), work=str(tmp_path), cache_dir=str(tmp_path), seed=0, seconds=1)


def test_generated_topic_is_deterministic():
    a, b = make_topic(3, 500), make_topic(3, 500)
    assert a.value == b.value and (a.partition == b.partition).all()
    assert a.value != make_topic(4, 500).value
    assert any(v is None for v in a.value)  # null payloads present


def check_epoch(tmp_path, want) -> Run:
    """Check ``out/epoch_0`` as the only committed micro-batch: the
    layout, and one exactly-once check per partition."""
    run = new_run(tmp_path)
    check_stream_output(run, str(tmp_path / "out"), [0], want)
    assert run.attempted == 1 + len(want)
    return run


def test_correct_epoch_passes(tmp_path, want):
    write_layout(tmp_path / "out" / "epoch_0", want)
    run = check_epoch(tmp_path, want)
    assert run.failed == 0 and run.problems == []


def test_missing_file_fails(tmp_path, want):
    write_layout(tmp_path / "out" / "epoch_0", want)
    os.remove(tmp_path / "out" / "epoch_0" / "partition_0_batch_1.parquet")
    assert check_epoch(tmp_path, want).failed == 2  # batch-id gap, and partition 0's rows missing


def test_missing_last_file_fails(tmp_path, want):
    write_layout(tmp_path / "d", want)
    last = max(n for n in os.listdir(tmp_path / "d") if n.startswith("partition_3_"))
    os.remove(tmp_path / "d" / last)
    assert check_drain(str(tmp_path / "d"), want, BATCH)


def test_missing_directory_fails(tmp_path, want):
    run = check_epoch(tmp_path, want)  # epoch_0 never written
    assert run.failed == 1 + len(want) and "missing" in run.problems[0]


def test_corrupted_file_fails(tmp_path, want):
    write_layout(tmp_path / "out" / "epoch_0", want)
    path = tmp_path / "out" / "epoch_0" / "partition_1_batch_0.parquet"
    path.write_bytes(path.read_bytes()[:40])
    run = check_epoch(tmp_path, want)
    assert run.failed == 2 and "unreadable" in run.problems[0]


def test_wrong_value_fails(tmp_path, want):
    bad = {p: list(v) for p, v in want.items()}
    bad[2][5] = bad[2][5] + "x"
    write_layout(tmp_path / "d", bad)
    assert check_drain(str(tmp_path / "d"), want, BATCH)


def test_nullable_schema_fails(tmp_path, want):
    write_layout(tmp_path / "d", want)
    path = tmp_path / "d" / "partition_0_batch_0.parquet"
    pq.write_table(pa.table({"b": pa.array(want[0][:BATCH], pa.string())}), path)  # nullable b
    assert any("REQUIRED" in p for p in check_drain(str(tmp_path / "d"), want, BATCH))


def test_stream_epochs_exactly_once(tmp_path, want):
    # Split each partition across two epochs at an arbitrary point.
    first = {p: v[: len(v) // 3] for p, v in want.items()}
    second = {p: v[len(v) // 3 :] for p, v in want.items()}
    write_layout(tmp_path / "out" / "epoch_0", first)
    write_layout(tmp_path / "out" / "epoch_1", second)
    run = new_run(tmp_path)
    epoch_of = check_stream_output(run, str(tmp_path / "out"), [0, 1], want)
    assert run.failed == 0 and run.attempted == 1 + len(want)
    assert epoch_of[0] == [0] * len(first[0]) + [1] * len(second[0])

    os.remove(tmp_path / "out" / "epoch_1" / "partition_0_batch_0.parquet")
    run = new_run(tmp_path)
    check_stream_output(run, str(tmp_path / "out"), [0, 1], want)
    assert run.failed == 2  # the layout, and partition 0's rows


def test_stream_duplicate_epoch_fails(tmp_path, want):
    write_layout(tmp_path / "out" / "epoch_0", want)
    write_layout(tmp_path / "out" / "epoch_1", want)  # replayed batch
    run = new_run(tmp_path)
    check_stream_output(run, str(tmp_path / "out"), [0, 1], want)
    assert run.failed == len(want)  # every partition holds its rows twice


def test_oracle_comparison():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    assert compare_to_oracle(a, a.iloc[::-1]) == []
    assert compare_to_oracle(a, pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]}))
    assert compare_to_oracle(a, a.rename(columns={"v": "w"}))
    assert compare_to_oracle(a, a.iloc[:1])
