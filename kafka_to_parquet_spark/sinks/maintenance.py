"""Table maintenance: small-file compaction.

The reference's sink writes one parquet file per (partition, batch)
(reference src/main.rs:229-253) — exactly the layout that accumulates
millions of small files under a high-frequency batcher. Compaction is
the maintenance job every parquet lake runs: rewrite a fragmented
layout into files sized for scan efficiency (HDFS-block-ish targets),
WITHOUT changing the data.

The declared query materializes a deliberately fragmented copy of
``events`` (one file per batcher flush), compacts it to a byte-targeted
file count computed from the observed layout size, and returns the
compacted table's content — the oracle reads the original rows, so the
driver hash proves the rewrite is lossless while tests pin the file
counts actually shrinking.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.cache import memo
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load

# One file per batcher flush in the fragmented layout (the reference's
# count-based batcher at 50 msgs/flush over the 10k-row sf0.01 events
# table produces exactly this kind of layout).
FRAGMENT_FILES = 200
# Compacted-file byte target. Real lakes target 128 MB-1 GB; the
# fixture is tiny, so the target is scaled down to keep >1 output file
# and make the arithmetic observable in tests. The POLICY (files =
# ceil(bytes / target)) is the production one.
TARGET_BYTES = 256 * 1024


def _layout_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def compact_events(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per session+sf) the fragmented layout and its
    compacted rewrite; returns (fragmented_dir, compacted_dir)."""

    def build() -> tuple[str, str]:
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        frag = os.path.join(tempfile.gettempdir(), f"ktps_frag_{digest}")
        comp = os.path.join(tempfile.gettempdir(), f"ktps_compact_{digest}")
        ev = load(spark, sf_dir, "events")
        # Fragmented layout: round-robin into many small files — the
        # shape a per-batch sink leaves behind.
        ev.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag)
        # Compaction: output file count from observed bytes, not a
        # guess — ceil(total/target), floor 1. Round-robin repartition
        # spreads rows evenly so every output file lands near the
        # target size (no sort, no shuffle key: compaction preserves
        # content, not order).
        n_out = max(1, -(-_layout_bytes(frag) // TARGET_BYTES))
        spark.read.parquet(frag).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(comp)
        return frag, comp

    return memo(spark, sf_dir, "compact_events", build)


@query(
    "q_compact_files",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(round(value * 100) AS BIGINT) AS value_c,
       md5(props) AS props_fp
FROM events
""",
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, verified lossless: the compacted layout
    read back must hash-match the original table (every column carried,
    floats as integer cents, props fingerprinted).

    Shape at 100 TB: compaction is embarrassingly parallel — a
    round-robin exchange into ceil(bytes/target) tasks, each writing
    one file; no sort, no key shuffle, no driver data path. Partitioned
    tables run it per partition (compose with
    sources/partitioned.py's layout) so only fragmented partitions
    rewrite. The byte-targeted file count is the piece naive
    ``coalesce(k)`` compaction gets wrong: a fixed k either leaves
    files small or makes tasks giant; deriving k from the observed
    layout keeps output files at the scan-efficient size as the table
    grows."""
    _, comp = compact_events(spark, sf_dir)
    out = spark.read.parquet(comp)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_s"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        F.md5("props").alias("props_fp"),
    )
