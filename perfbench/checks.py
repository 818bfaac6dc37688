"""Output checks. Each returns a list of problems; empty means correct.

Pure pyarrow/pandas — no Spark — so the self-tests run in a second.
"""

from __future__ import annotations

import datetime
import math
import os
import re
from collections import Counter

import pyarrow.parquet as pq

_NAME = re.compile(r"^partition_(\d+)_batch_(\d+)\.parquet$")


def read_batch_dir(out_dir: str, batch_size: int) -> tuple[dict[int, list[str]], list[str]]:
    """Read a directory in the reference layout
    (``partition_{p}_batch_{b}.parquet``, one REQUIRED string column
    ``b``). Returns each partition's rows in batch order and the
    problems found: a foreign file name, a gap in batch numbers, a wrong
    schema, an unreadable file, or a batch of the wrong size (every
    batch but a partition's last holds exactly ``batch_size`` rows)."""
    if not os.path.isdir(out_dir):
        return {}, [f"{out_dir}: missing"]
    problems: list[str] = []
    batches: dict[int, dict[int, list[str]]] = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith((".", "_")):
            continue
        m = _NAME.match(name)
        if not m:
            problems.append(f"{out_dir}: unexpected file {name}")
            continue
        path = os.path.join(out_dir, name)
        try:
            table = pq.read_table(path)
        except Exception as e:  # noqa: BLE001 — any unreadable file is a wrong output
            problems.append(f"{path}: unreadable ({type(e).__name__})")
            continue
        fields = [(f.name, str(f.type), f.nullable) for f in table.schema]
        if fields != [("b", "string", False)]:
            problems.append(f"{path}: schema {fields}, want one REQUIRED string column b")
            continue
        batches.setdefault(int(m.group(1)), {})[int(m.group(2))] = table.column("b").to_pylist()
    rows: dict[int, list[str]] = {}
    for p, by_batch in batches.items():
        ids = sorted(by_batch)
        if ids != list(range(len(ids))):
            problems.append(f"{out_dir}: partition {p} batch ids {ids[:5]}... not 0..{len(ids) - 1}")
        for b in ids[:-1]:
            if len(by_batch[b]) != batch_size:
                problems.append(f"{out_dir}: partition {p} batch {b} has {len(by_batch[b])} rows")
        if len(by_batch[ids[-1]]) > batch_size:
            problems.append(f"{out_dir}: partition {p} last batch has {len(by_batch[ids[-1]])} rows")
        rows[p] = [v for b in ids for v in by_batch[b]]
    return rows, problems


def compare_partitions(got: dict[int, list[str]], want: dict[int, list[str]]) -> list[str]:
    """Every wanted row exactly once, in offset order, per partition."""
    problems = []
    for p in sorted(set(got) | set(want)):
        g, w = got.get(p, []), want.get(p, [])
        if g != w:
            first = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
            problems.append(f"partition {p}: {len(g)} rows, want {len(w)}; first difference at row {first}")
    return problems


def check_drain(out_dir: str, want: dict[int, list[str]], batch_size: int) -> list[str]:
    """The output of one ``write_partition_batches`` drain."""
    got, problems = read_batch_dir(out_dir, batch_size)
    return problems + compare_partitions(got, {p: w for p, w in want.items() if w})


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    if hasattr(v, "tolist"):  # numpy scalar or array
        return _norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def _multiset(pdf) -> tuple[list[str], Counter]:
    cols = sorted(pdf.columns)
    return cols, Counter(tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))


def compare_to_oracle(spark_pdf, oracle_pdf) -> list[str]:
    """Row count, column names and the order-insensitive multiset of
    row values must match the DuckDB oracle exactly."""
    if len(spark_pdf) != len(oracle_pdf):
        return [f"{len(spark_pdf)} rows, oracle {len(oracle_pdf)}"]
    scols, srows = _multiset(spark_pdf)
    ocols, orows = _multiset(oracle_pdf)
    if scols != ocols:
        return [f"columns {scols}, oracle {ocols}"]
    if srows != orows:
        n = sum((srows - orows).values())
        return [f"{n} rows differ from the oracle"]
    return []
