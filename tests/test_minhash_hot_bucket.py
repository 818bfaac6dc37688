"""The MinHash-LSH hot-bucket cap, on a corpus built to reach it.

The fixtures never put more than ``MAX_BAND_BUCKET`` documents into one
band bucket, so their oracle checks cannot tell whether the cap is
applied, or applied in the right place. This corpus holds 300 copies of
one text (every band bucket of that family is over the cap), a few
near-duplicate pairs on both sides of the incremental batch split, and
docs below the shingle width. q_dedup_minhash and q_dedup_minhash_incr
must equal their DuckDB oracles on it, and the 300-copy family must
yield no pair.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_to_parquet_spark import registry
from kafka_to_parquet_spark.functions.hashes import MAX_BAND_BUCKET
from kafka_to_parquet_spark.llm.dedup import INCR_MOD, INCR_REM

N_COPIES = 300
WORDS = [f"w{i}" for i in range(200)]


def _corpus() -> list[tuple[int, str]]:
    rng = random.Random(20261018)
    hot = " ".join(rng.choices(WORDS, k=40))
    docs = [(i, hot) for i in range(N_COPIES)]
    # near-duplicate pairs: one edited word; ids straddle the batch
    # split (doc_id % INCR_MOD == INCR_REM) so the incremental join
    # has batch-vs-corpus pairs to find
    for n, (a, b) in enumerate(((1000, 1007), (1010, 1017), (1020, 1021))):
        toks = rng.choices(WORDS, k=30)
        docs.append((a, " ".join(toks)))
        toks[15] = f"edit{n}"
        docs.append((b, " ".join(toks)))
    # below the shingle width: no shingles, no signature, no pair
    docs += [(2000, ""), (2001, "solo"), (2002, "one two")]
    # background
    for i in range(3000, 3040):
        docs.append((i, " ".join(rng.choices(WORDS, k=rng.randint(5, 40)))))
    return docs


@pytest.fixture(scope="module")
def hot_dir(spark, tmp_path_factory):
    assert N_COPIES > MAX_BAND_BUCKET
    d = str(tmp_path_factory.mktemp("hot_bucket"))
    docs = _corpus()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["synthetic"] * len(docs),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    yield d
    from kafka_to_parquet_spark.cache import clear_caches

    clear_caches(spark, d)


def _oracle_rows(sf_dir: str, name: str) -> list[tuple]:
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    )
    return sorted(con.sql(registry.ORACLE_SQL[name]).fetchall())


@pytest.mark.parametrize(
    "name,cols",
    [
        ("q_dedup_minhash", ("doc_a", "doc_b", "jaccard")),
        ("q_dedup_minhash_incr", ("batch_doc", "corpus_doc", "jaccard")),
    ],
)
def test_hot_bucket_cap_matches_oracle(spark, hot_dir, name, cols):
    registry.load_all()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in registry.QUERIES[name](spark, hot_dir).collect()
    )
    assert got == _oracle_rows(hot_dir, name)
    # the capped family yields nothing; the near-duplicates survive
    assert not [p for p in got if p[0] < N_COPIES or p[1] < N_COPIES]
    if name == "q_dedup_minhash":
        assert {(a, b) for a, b, _ in got} >= {(1000, 1007), (1010, 1017), (1020, 1021)}
    else:
        assert all(a % INCR_MOD == INCR_REM for a, _, _ in got)
        assert {(a, b) for a, b, _ in got} >= {(1007, 1000), (1017, 1010)}
