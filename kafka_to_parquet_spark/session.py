"""SparkSession factory tuned for this engine.

Local-mode defaults chosen for the test harness (local[N] on a 32-core,
128 GiB host) but every setting generalizes to a real cluster:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB story
  relies on it;
- shuffle partitions sized to cores locally (on a cluster this would be
  2-3× total executor cores, or left to AQE's coalescing);
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are host-independent;
- Arrow enabled for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_host_memory() -> str:
    """Default driver heap: half of physical RAM, in ``m`` units, so
    the JVM never reserves more than the host has."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{ram // 2 // 2**20}m"


def get_spark(app_name: str = "kafka_to_parquet_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Everything here
    is a public Spark config knob; nothing is cluster-manager specific.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Reduce-side granularity must scale with DATA, not cores: with
        # a fixed 32 partitions a 600M-row shuffle hands each reduce
        # task ~19M rows, and 32 such tasks sharing one local-mode heap
        # OOM'd the sf≈100 stress. The big-data tools raise
        # $SPARK_GRAFT_INIT_PARTITIONS (stress_sf100 uses 256) so AQE
        # plans from that count and coalesces small stages back down.
        # The DEFAULT stays core-scaled: an unconditional 8× was
        # A/B-measured costing ~2× on many-round iterative kernels at
        # sf0.1 (task-count overhead per round: q_graph_triangles 1.1s
        # → 2.1s, q_dedup_components 2.8s → 5.1s) — pure loss below
        # the memory cliff the higher count exists to avoid.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INIT_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_host_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/ktps_warehouse")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def reclaim(spark: SparkSession) -> None:
    """Release superseded shuffle files NOW instead of at the JVM's
    leisure — the discipline any production driver running many heavy
    jobs in one SparkContext needs.

    Spark deletes a job's shuffle files only when the JVM garbage-
    collects the now-unreachable ShuffleDependency objects (the
    ContextCleaner is GC-triggered). A long-lived driver chaining
    tens-of-GB shuffle jobs can fill local disk with several jobs'
    accumulated spill before a full GC ever runs — the first sf≈100
    stress cell did exactly that (round-11 SCALING note). One explicit
    Python GC (drops py4j proxies) followed by a JVM GC (runs the
    ContextCleaner's reference queue) bounds the on-disk working set
    to roughly one job's shuffle.

    Call it BETWEEN heavy jobs, outside any timing window — cleanup is
    not the next query's cost. Cheap enough to call unconditionally:
    a no-garbage invocation is two GC pauses (~100 ms locally)."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
