"""Deterministic inputs for the benchmark.

Two generators, both driven by numpy's PCG64 so a seed fixes every
byte:

- ``write_tables``: the star-schema tables the registered queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), shaped like the fixtures described in
  TESTDATA.md. The query workload always uses ``TABLE_SEED`` so its
  input never changes between runs; the run seed only permutes query
  order.
- ``Topic``: a Kafka-shaped record log (``partition, offset, key,
  value: binary, timestamp``) with uneven partitions, lognormal payload
  lengths and about 5 % null payloads. Every non-null payload starts
  with the record's sequence number, so an output row names the input
  row it came from.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
N_PARTITIONS = 4
# Share of the topic each partition receives: Kafka keys hash unevenly.
PARTITION_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
NULL_SHARE = 0.05

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_FILLER = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)


def _ts_us(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), type=pa.timestamp("us"))


def _days(start: str, days: np.ndarray) -> pa.Array:
    return _ts_us(start, days.astype(np.float64) * 86400.0)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_data(scale: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Build every table at ``scale`` (1.0 = 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = n_ord * 4
    n_events = max(int(1_000_000 * scale), 1000)
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(20_000 * scale), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = np.array(["small", "red", "blue", "hot", "old", "large", "new", "green"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
    })
    event_types = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts_us("2024-01-01", np.cumsum(rng.exponential(259.0, n_events))),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": event_types[rng.integers(0, 5, n_events)],
        "value": np.maximum(np.round(rng.lognormal(3.5, 1.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 4 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.7, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out_dir: str, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in table_data(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass
class Topic:
    """A generated record log. Arrays are aligned by sequence number."""

    partition: np.ndarray  # int32
    offset: np.ndarray  # int64, per partition, 0-based
    value: list  # bytes or None

    @property
    def n(self) -> int:
        return len(self.value)

    def expected_payloads(self) -> dict[int, list[str]]:
        """Per partition, the decoded payloads in offset order — what the
        reference writes (a null payload becomes "")."""
        out: dict[int, list[str]] = {p: [] for p in range(N_PARTITIONS)}
        for p, v in zip(self.partition.tolist(), self.value):
            out[p].append("" if v is None else v.decode())
        return out

    def arrow(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        """Rows ``[lo, hi)`` in the Kafka source's schema."""
        hi = self.n if hi is None else hi
        seq = np.arange(lo, hi, dtype=np.int64)
        return pa.table({
            "partition": pa.array(self.partition[lo:hi], pa.int32()),
            "offset": pa.array(self.offset[lo:hi], pa.int64()),
            "key": [f"Key {s}" for s in seq.tolist()],
            "value": pa.array(self.value[lo:hi], pa.binary()),
            "timestamp": pa.array(seq, pa.timestamp("us")),
        })


def make_topic(seed: int, n: int, mean_payload: int = 200) -> Topic:
    """``n`` records spread over ``N_PARTITIONS`` by ``PARTITION_WEIGHTS``.

    Payload lengths are lognormal around ``mean_payload`` bytes; each
    payload is ``"<seq>|"`` followed by printable filler."""
    rng = np.random.default_rng(seed)
    partition = rng.choice(N_PARTITIONS, size=n, p=PARTITION_WEIGHTS).astype(np.int32)
    offset = np.zeros(n, dtype=np.int64)
    for p in range(N_PARTITIONS):
        mask = partition == p
        offset[mask] = np.arange(int(mask.sum()))
    sigma = 0.6
    lengths = rng.lognormal(np.log(mean_payload) - sigma**2 / 2, sigma, n).astype(np.int64)
    nulls = rng.random(n) < NULL_SHARE
    filler = _FILLER[rng.integers(0, len(_FILLER), int(lengths.sum()))].tobytes()
    values: list = []
    pos = 0
    for seq in range(n):
        ln = int(lengths[seq])
        values.append(None if nulls[seq] else b"%d|" % seq + filler[pos : pos + ln])
        pos += ln
    return Topic(partition=partition, offset=offset, value=values)
