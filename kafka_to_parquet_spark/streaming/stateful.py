"""Genuine Structured Streaming runs: watermarked window agg (T5) and
streaming dedup (T6), executed with readStream → availableNow trigger →
memory sink. The test container has no Kafka broker, so the stream is
driven from a parquet file source over the same ``events`` rows; with a
broker the identical plan hangs off sources.kafka.kafka_stream().
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from kafka_to_parquet_spark.cache import TempDataset, memo
from kafka_to_parquet_spark.registry import query
from kafka_to_parquet_spark.tables import load, normalize_event_ts

WATERMARK = "10 minutes"


def stream_source_dir(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Directory for a file-stream source over ``table``: the file
    source needs a directory, so the (read-only) ``{table}.parquet`` is
    symlinked into a temp dir memoized per (session, sf_dir, table).
    Repeated calls in a bench/verify sweep reuse it instead of leaking
    a fresh mkdtemp per run, and the dir is a cache-owned
    :class:`TempDataset`, so ``clear_caches`` removes it from disk.
    Returns the symlink when the table is itself a directory."""
    src = os.path.join(sf_dir, f"{table}.parquet")

    def build() -> TempDataset:
        d = tempfile.mkdtemp(prefix=f"ktps_stream_{table}_")
        os.symlink(
            src,
            os.path.join(d, f"{table}.parquet"),
            target_is_directory=os.path.isdir(src),
        )
        return TempDataset(d)

    d = memo(spark, sf_dir, f"stream_source_dir:{table}", build)
    return os.path.join(d, f"{table}.parquet") if os.path.isdir(src) else d


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (see :func:`stream_source_dir`)."""
    ev_path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(ev_path).schema
    sdf = spark.readStream.schema(schema).parquet(
        stream_source_dir(spark, sf_dir, "events")
    )
    # Same per-generation ts normalization as the batch loader — ONE
    # shared definition (tables.normalize_event_ts), so a third
    # physical ts type gets fixed for batch and streaming together.
    return normalize_event_ts(sdf)


def run_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    a memory sink; return the result as a batch DataFrame.

    Scale note: the memory sink materializes every result row in
    DRIVER memory before the localCheckpoint copy — fine for the
    bounded aggregate/dedup outputs these test queries produce, but
    not a production sink. At real scale use ``streaming_sink``
    (sinks/parquet_batch.py: foreachBatch → executor-side parquet
    writes, checkpointed) and keep the memory sink for tests. The
    sink table is dropped from the catalog after the copy so repeated
    invocations in one session don't accumulate named tables."""
    spark = sdf.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


@query("q_stream_watermark")  # rows-only: emission depends on watermark progression
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: watermark + tumbling window agg as a real streaming query.
    ``withWatermark("ts", "10 minutes")`` bounds state: windows older
    than (max event time − 10 min) are finalized and evicted, and
    later-arriving rows for them are dropped — the property that keeps
    state finite on an unbounded 100 TB/day stream. Update mode emits
    every window touched per micro-batch; the driver's rows-only check
    records output presence/shape, and tests/test_streaming.py asserts
    the values against the batch-equivalent q_stream_tumbling."""
    from kafka_to_parquet_spark.streaming.windows import TUMBLE_S

    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", f"{TUMBLE_S} seconds"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "update")


@query(
    "q_stream_custom_state",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT)           AS n,
       sum(round("value" * 100)) / 100.0  AS sum_value
FROM events
GROUP BY user_id
""",
)
def q_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: arbitrary stateful processing — a per-user running
    (count, scaled-sum) accumulator via ``applyInPandasWithState``,
    the PySpark surface for custom streaming operators (the
    flatMapGroupsWithState analog). Each micro-batch updates the
    per-key state struct and emits the running totals; the final
    emission per key equals the batch aggregate, which makes this
    oracle-checkable after a max-by-count reduction. State is one
    (long, double) per user — bounded by |keys|, the property that
    matters on an unbounded stream. Sums use the integer-scaled form
    so the result is engine-exact (functions/rounding.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # floor(x*100 + 0.5), NOT pandas .round(0): pandas rounds
            # half-to-even while the DuckDB oracle's round() is
            # half-away-from-zero — an exact .5 cent value (e.g. 0.125)
            # would diverge by 1. Values are non-negative, so the
            # floor form equals HALF_UP, the repo's rounding fence.
            s += float(np.floor(pdf["value"] * 100 + 0.5).sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "s": [s]})

    running = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n long, s double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(running, "update")
    # Final state per key = the emission with the largest count.
    final = emitted.groupBy("user_id").agg(F.max(F.struct("n", "s")).alias("m"))
    return final.select(
        "user_id",
        F.col("m.n").alias("n"),
        (F.col("m.s") / 100.0).alias("sum_value"),
    )


JOIN_WINDOW_MIN = 60


def _interval_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared stream-stream interval-join builder for the inner and
    left-outer declared queries: identical watermarked click/purchase
    streams, identical two-sided time-range condition and projection —
    ONE definition so the watermark delay or join window can never
    drift between the two (their tests rely on outer ⊇ inner)."""
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user AND p_ts >= c_ts
            AND p_ts <= c_ts + INTERVAL {JOIN_WINDOW_MIN} MINUTES"""
        ),
        how,
    ).select(
        "click_id",
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
        (F.floor(F.unix_timestamp("p_ts")) - F.floor(F.unix_timestamp("c_ts")))
        .cast("long")
        .alias("gap_s"),
    )


@query(
    "q_stream_join",
    oracle=f"""
SELECT a.event_id AS click_id,
       b.event_id AS purchase_id,
       a.user_id,
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {JOIN_WINDOW_MIN} MINUTE
""",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the remaining Structured Streaming
    join surface): clicks joined to same-user purchases within
    {JOIN_WINDOW_MIN} minutes, both sides real ``readStream`` sources.
    Watermarks on BOTH sides plus the two-sided time-range predicate
    are what bound the join state: each side buffers only rows inside
    the watermark horizon, so state is O(rate × window), not O(stream).
    Inner joins emit eagerly on match (no watermark wait), which makes
    the bounded availableNow run equal to the batch join — and hence
    oracle-checkable. At 100 TB/day the state store shards by user_id
    across executors; the join itself is the same plan."""
    joined = _interval_join(spark, sf_dir, "inner").select(
        "click_id", "purchase_id", "user_id", "gap_s"
    )
    return run_to_memory(joined, "append")


@query(
    "q_stream_join_outer",
    oracle=f"""
WITH wm AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'click'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOUR AS w
),
matched AS (
  SELECT a.event_id AS click_id,
         b.event_id AS purchase_id,
         a.user_id,
         CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS gap_s
  FROM events a JOIN events b
    ON a.user_id = b.user_id
   AND a.event_type = 'click' AND b.event_type = 'purchase'
   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {JOIN_WINDOW_MIN} MINUTE
)
SELECT click_id, purchase_id, user_id, gap_s FROM matched
UNION ALL
SELECT a.event_id AS click_id,
       CAST(NULL AS BIGINT) AS purchase_id,
       a.user_id,
       CAST(NULL AS BIGINT) AS gap_s
FROM events a
WHERE a.event_type = 'click'
  AND a.event_id NOT IN (SELECT click_id FROM matched)
  AND a.ts + INTERVAL {JOIN_WINDOW_MIN} MINUTE < (SELECT w FROM wm)
""",
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the watermark-expired
    null-emission mode that completes the streaming-join surface next
    to the inner form (q_stream_join): clicks joined to same-user
    purchases within {JOIN_WINDOW_MIN} minutes; a click with no
    matching purchase is emitted with NULLs, but only once the global
    watermark (min of both sides' ``max event time − 2 h``) has passed
    the end of its join window — before that Spark cannot know no
    match is coming, so the row stays buffered in the state store.

    That eviction rule is deterministic for a bounded availableNow run
    (the trailing no-data micro-batch advances the watermark to its
    final value and flushes expired state), which makes even the
    null-extension oracle-checkable: the oracle emits an unmatched
    click iff ``c_ts + {JOIN_WINDOW_MIN} min < final watermark`` —
    clicks whose window is still open at stream end are exactly the
    rows a real 24/7 run would still be buffering. State size and
    sharding are identical to the inner join: O(rate × horizon) per
    side, hash-partitioned by user_id across executors."""
    joined = _interval_join(spark, sf_dir, "leftOuter")
    return run_to_memory(joined, "append")


@query(
    "q_stream_dedup",
    oracle="""
SELECT event_id, user_id, event_type
FROM events
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: streaming dropDuplicates on event_id under a watermark —
    state holds one key per id inside the watermark horizon, and each
    id is emitted exactly once on first arrival. event_id is unique in
    the fixture, so the streamed output must equal the full table —
    which makes this streaming query oracle-checkable (a dropped or
    duplicated row fails the hash)."""
    ev = _stream_events(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", WATERMARK)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(dedup, "append")


@query(
    "q_stream_upsert",
    oracle="""
SELECT user_id, last_es, last_event_id, last_type
FROM (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS last_es,
         event_id AS last_event_id,
         event_type AS last_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC
         ) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert — the materialized-view form of the
    reference's sink: a real ``readStream`` event flow merged per
    micro-batch into a keyed store (one row per user: the latest event
    by (second-truncated ts, event_id)), via ``foreachBatch`` with a
    checkpoint. The merge keeps ``max(struct(es, event_id, type))``
    per key — an ASSOCIATIVE, IDEMPOTENT reduction, so the final store
    is independent of how the stream was split into batches and of
    replayed batches after restart (checkpoint + idempotent merge =
    exactly-once state). That batch-boundary independence is what
    makes a genuinely stateful streaming sink oracle-checkable: the
    oracle is the batch last-write-wins row_number over the whole
    table.

    Scale: per-key state is ONE narrow row; each micro-batch combines
    map-side to |keys-in-batch| rows before the merge. The store
    rewrite here is whole-table (fixture-scale simplicity); the
    production form overwrites only touched partitions (the dynamic
    partition-overwrite discipline of sources/partitioned.py) or a
    Delta/Iceberg MERGE — the merge algebra is identical."""
    import hashlib
    import shutil

    ev = _stream_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_type",
    )
    # Memoize (store, checkpoint) per (session, sf_dir): a repeat
    # invocation REUSES the checkpoint, so the availableNow run finds
    # every source file already committed, replays nothing, and the
    # merge loop is a no-op — that IS the exactly-once restart path,
    # exercised on every bench/verify re-run instead of leaking a
    # fresh mkdtemp + full reprocess per call. Only a fresh key (or a
    # clear_caches eviction) rebuilds from scratch.
    def build() -> tuple[TempDataset, TempDataset]:
        digest = hashlib.md5(
            f"{spark.sparkContext.applicationId}_{sf_dir}".encode()
        ).hexdigest()[:8]
        store = os.path.join(tempfile.gettempdir(), f"ktps_upsert_{digest}")
        shutil.rmtree(store, ignore_errors=True)
        ckpt = tempfile.mkdtemp(prefix="ktps_upsert_ckpt_")
        # TempDataset: store + checkpoint are cache-owned scratch —
        # eviction frees the on-disk state with the entry (the next
        # call rebuilds from scratch, the documented fresh-key path)
        # instead of leaking both dirs.
        return TempDataset(store), TempDataset(ckpt)

    store, ckpt = memo(spark, sf_dir, "upsert_store", build)

    def merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        incoming = batch.groupBy("user_id").agg(
            F.max(F.struct("es", "event_id", "event_type")).alias("m")
        )
        if os.path.isdir(store):
            cur = s.read.parquet(store).select(
                "user_id",
                F.struct(
                    F.col("last_es").alias("es"),
                    F.col("last_event_id").alias("event_id"),
                    F.col("last_type").alias("event_type"),
                ).alias("m"),
            )
            incoming = incoming.unionByName(cur)
        new = (
            incoming.groupBy("user_id")
            .agg(F.max("m").alias("m"))
            .select(
                "user_id",
                F.col("m.es").alias("last_es"),
                F.col("m.event_id").alias("last_event_id"),
                F.col("m.event_type").alias("last_type"),
            )
            # materialize BEFORE overwriting the files it was read from
            .localCheckpoint(eager=True)
        )
        new.write.mode("overwrite").parquet(store)

    q = (
        ev.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize the result so the returned DataFrame does not depend
    # on the store files — a later invocation (or cache eviction +
    # rebuild) may rewrite them while a caller still holds this frame.
    # The state is |keys|-sized, far smaller than the stream.
    return spark.read.parquet(store).localCheckpoint(eager=True)


@query(
    "q_stream_static_join",
    oracle="""
SELECT event_id, user_id, event_type, c_mktsegment,
       CAST(c_nationkey AS INTEGER) AS c_nationkey
FROM events JOIN customer ON c_custkey = user_id
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the third Structured Streaming join class
    alongside the stream-stream interval join (q_stream_join) and the
    windowed aggregates: a real ``readStream`` event flow enriched
    with a static dimension (customer, on ``user_id = c_custkey``).

    Stream-static inner joins are STATELESS: each micro-batch probes
    the static side as-of that batch, nothing is buffered, no
    watermark is needed, and append mode emits eagerly — which is why
    the bounded availableNow run equals the batch join and the query
    is oracle-checkable. The static side is explicitly broadcast: at
    100 TB/day of events the dimension recompiles into every executor
    once per micro-batch (Spark re-plans the static side each batch —
    this is also how slowly-changing dims get picked up), and the
    stream never shuffles. This is the streaming analog of the
    reference's enrich-nothing passthrough (src/main.rs:240-256) with
    an actual dimension attached."""
    ev = _stream_events(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_nationkey").cast("int").alias("c_nationkey")
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey).select(
        "event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey"
    )
    return run_to_memory(joined, "append")


# ---------------------------------------------------------------------------
# Streaming CEP: per-key pattern-transition counting with carried state
# ---------------------------------------------------------------------------


@query(
    "q_stream_transitions",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
lg AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev
  FROM base
)
SELECT user_id,
       CAST(sum(CASE WHEN prev = 'view' AND event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions
FROM lg GROUP BY user_id
""",
)
def q_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: streaming CEP — per user, the count of immediate
    view→purchase transitions in (event-time, event_id) order, over a
    real ``readStream`` source with arbitrary keyed state
    (applyInPandasWithState). The streaming twin of the batch CEP
    family (q_event_pattern holds the MATCH_RECOGNIZE-lite form).

    State design: the running transition count plus the LAST event
    seen (order key + whether it was a view), so a pattern straddling
    a batch boundary is still counted — within a batch ALL of a key's
    Arrow chunks concatenate before one global (es, event_id) sort
    (chunk-local sorting would miscount across chunk boundaries), and
    across batches the carried last-event key both seeds the scan and
    DROPS late rows (at-or-before the carried key — the watermark
    discipline; like any streaming CEP, the operator's contract is
    event-time-ordered batch delivery). Update-mode emission +
    max-per-key collapse (the q_stream_custom_state discipline) makes
    the bounded availableNow run equal the batch lag-window oracle.

    API note: Spark 4 adds transformWithStateInPandas (typed state
    handles, timers, RocksDB store) as this operator's successor API;
    its Python state-server protocol requires the ``protobuf`` package,
    which this container does not ship — the StatefulProcessor form is
    environment-gated the same way the Kafka broker tests are, and the
    GroupState form here is the portable one.

    100 TB shape: state per key is one tiny tuple, input flows through
    one user_id exchange, per-batch work is Arrow-batched pandas —
    exactly the operator Structured Streaming runs unbounded."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
    )

    def count_transitions(key, pdfs, state):
        if state.exists:
            n, last_es, last_eid, last_is_view = state.get
            prev_view = bool(last_is_view)
        else:
            n, last_es, last_eid, prev_view = 0, -1, -1, False
        # ONE global sort over the whole batch's rows for this key —
        # a group's rows can arrive as several Arrow chunks in
        # arbitrary order, so sorting chunk-locally would miscount
        # adjacencies across chunk boundaries.
        pdf = pd.concat(list(pdfs)).sort_values(["es", "event_id"])
        # Rows at-or-before the carried last event are LATE (an
        # earlier batch already scanned past them) — counting them
        # against the carried state would be order-wrong, so they are
        # dropped, the watermark discipline. The file source delivers
        # batches in file order; event-time-ordered ingestion is this
        # operator's contract, as for any streaming CEP.
        mask = (pdf["es"] > last_es) | (
            (pdf["es"] == last_es) & (pdf["event_id"] > last_eid)
        )
        pdf = pdf[mask]
        if len(pdf):
            for is_p in pdf["is_p"]:
                if prev_view and is_p:
                    n += 1
                prev_view = not is_p
            t = pdf.iloc[-1]
            last_es, last_eid = int(t["es"]), int(t["event_id"])
        state.update((n, last_es, last_eid, int(prev_view)))
        yield pd.DataFrame({"user_id": [key[0]], "n_transitions": [n]})

    running = ev.groupBy("user_id").applyInPandasWithState(
        count_transitions,
        outputStructType="user_id long, n_transitions long",
        stateStructType="n long, last_es long, last_eid long, last_is_view int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(running, "update")
    # Final count per key = the largest update (monotonic counter).
    return emitted.groupBy("user_id").agg(
        F.max("n_transitions").cast("long").alias("n_transitions")
    )
