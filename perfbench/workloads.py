"""The benchmark's workloads.

Each workload function takes a ``Run`` (session, tracer, paths, seed,
seconds), does its warm-up, measures for ``seconds``, checks outputs
outside the timed window and fills in the run's counts and metrics.
The program is only ever called through its public functions.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from kafka_to_parquet_spark import registry
from kafka_to_parquet_spark.cache import clear_caches, registered_entry_count
from kafka_to_parquet_spark.plans.explain import shuffle_count
from kafka_to_parquet_spark.sinks.parquet_batch import streaming_sink, write_partition_batches
from kafka_to_parquet_spark.sources.kafka_analog import BATCH_SIZE, with_batch_id
from kafka_to_parquet_spark.tables import TABLE_NAMES, load

from checks import check_drain, compare_partitions, compare_to_oracle, read_batch_dir
from gen import N_PARTITIONS, make_topic, write_tables
from spans import Tracer, stage_counters

# stream: offered load (records/s), one source file per tick.
STREAM_RATE = 2_000
STREAM_TICK_S = 0.25
# The trigger fires at multiples of this interval since the epoch; the
# generator's schedule is aligned to the same grid, so the wait between a
# file landing and the next trigger does not vary from run to run. The
# interval is over twice a micro-batch's time on two CPUs: a micro-batch
# that overruns it delays every later record by a whole interval, which
# at 2 s moved a run's median latency by a third when the host was busy.
STREAM_TRIGGER_S = 3.0
STREAM_WARM_BATCHES = 3
STREAM_WARM_DEADLINE_S = 60  # the warm-up fails if its micro-batches take longer
STREAM_DRAIN_S = 60  # after the window, time for the query to commit what was generated
# queries: relational operators, then LLM-curation queries. The table
# scale keeps a cold pass to a few seconds on four cores.
TABLE_SCALE = 0.01
OPERATOR_QUERIES = ["q_tpch_q1", "q_agg_percentile"]
LLM_QUERIES = ["q_vocab_topk", "q_dedup_minhash"]
# Cold passes after the checked one, before the window, while the JVM
# compiles the hot code: on every CPU the run was given, so that the
# compiler threads do not compete with the queries, and then on the one
# CPU the window runs on. With all of them on one CPU, each pass was
# still a tenth faster than the one before after three passes.
QUERIES_WARM_PASSES = 3
QUERIES_PINNED_PASSES = 3


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str  # scratch directory of this run, removed afterwards
    cache_dir: str  # survives runs: generated tables
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latency_ms: float = 0.0
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    # per-operation timings for the op.* layer metrics
    build_ms: list[float] = field(default_factory=list)
    exec_ms: list[float] = field(default_factory=list)
    clear_ms: list[float] = field(default_factory=list)
    exchanges: list[int] = field(default_factory=list)
    setup_s: float = 0.0  # session start + load_all + warm-up
    all_cpus: set = field(default_factory=set)  # the CPUs the run was given

    def fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {err if isinstance(err, str) else type(err).__name__ + ': ' + str(err)[:300]}")

    def warmup(self, fn) -> None:
        """Run the workload's warm-up and charge it to set-up time: its
        wall time, or the seconds ``fn`` returns."""
        t = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            charged = fn()
        self.layers["setup.warmup_s"] = time.perf_counter() - t if charged is None else charged
        self.setup_s += self.layers["setup.warmup_s"]

    def clear(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("cache.clear_caches"):
            clear_caches()
        self.clear_ms.append((time.perf_counter() - t) * 1000)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    return float(np.percentile(np.asarray(xs), q)) if len(xs) else 0.0


def _cpu_ticks() -> tuple[int, int]:
    """CPU ticks (stolen by the hypervisor, total) of the CPUs this
    process may run on, from /proc/stat."""
    mine = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    stolen = total = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *ticks = line.split()
            if name in mine:
                stolen, total = stolen + int(ticks[7]), total + sum(int(x) for x in ticks)
    return stolen, total


def _steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def _set_tree_affinity(cpus: set[int]) -> None:
    """Move every thread of this process and of all its descendants
    (the Spark JVM, its Python workers) onto ``cpus``. Threads and
    processes started later inherit it from their parent."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, p in parent.items() if p == pid]
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # the thread has ended


def _dir_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# --------------------------------------------------------------------- stream


def _invalid_utf8_check(run: Run) -> None:
    """Untimed check: the reference decodes an invalid UTF-8 payload to
    "" (main.rs:243-246); the sink must do the same, not abort."""
    import pyarrow as pa

    bad = pa.table({
        "partition": pa.array([0, 0, 1, 1], pa.int32()),
        "offset": pa.array([0, 1, 0, 1], pa.int64()),
        "value": pa.array([b"ok 0", b"\xff\xfe bad", None, b"ok 1"], pa.binary()),
    })
    src = os.path.join(run.work, "utf8_src")
    os.makedirs(src)
    pq.write_table(bad, os.path.join(src, "part-0.parquet"))
    out = os.path.join(run.work, "utf8_out")
    run.attempted += 1
    try:
        write_partition_batches(run.spark.read.parquet(src), out).count()
    except Exception as e:  # noqa: BLE001 — a failed write is the finding
        # Known defect: the job aborts, so there is no output to be
        # wrong. Counted as failed; leaves ``correct`` alone.
        run.failed += 1
        run.detail["invalid_utf8_check"] = f"failed: sink aborted ({type(e).__name__})"
        return
    problems = check_drain(out, {0: ["ok 0", ""], 1: ["", "ok 1"]}, BATCH_SIZE)
    run.detail["invalid_utf8_check"] = "ok" if not problems else "wrong output"
    if problems:
        run.fail("invalid_utf8 drain", "; ".join(problems))


class _Generator(threading.Thread):
    """Open-loop source: writes one Parquet file of ``rate * tick``
    records per tick, on a fixed schedule that does not wait for the
    system. Files appear atomically (written hidden, then renamed)."""

    def __init__(self, topic, src: str, rate: int, tick: float, grid: float):
        super().__init__(daemon=True)
        self.topic, self.src, self.per_tick, self.tick = topic, src, int(rate * tick), tick
        self.grid = grid
        self.stop_evt = threading.Event()
        self.t0 = 0.0
        self.written = 0  # records in visible files
        self.ticks: list[tuple[float, float, int, str]] = []  # (due, done, records so far, file)
        self.ran_dry = False  # the topic ended before the generator was stopped
        self.error: BaseException | None = None

    def due(self, seq: int) -> float:
        return self.t0 + (seq // self.per_tick) * self.tick

    def run(self) -> None:
        # first tick half a tick after the next trigger-grid boundary
        self.t0 = (int(time.time() / self.grid) + 1) * self.grid + self.tick / 2
        k = 0
        try:
            while not self.stop_evt.is_set():
                due = self.t0 + k * self.tick
                delay = due - time.time()
                if delay > 0 and self.stop_evt.wait(delay):
                    break
                lo, hi = k * self.per_tick, min((k + 1) * self.per_tick, self.topic.n)
                if lo >= hi:
                    self.ran_dry = True
                    break
                tmp = os.path.join(self.src, f".tick_{k:06d}.parquet")
                path = os.path.join(self.src, f"tick_{k:06d}.parquet")
                pq.write_table(self.topic.arrow(lo, hi), tmp)
                os.rename(tmp, path)
                self.written = hi
                self.ticks.append((due, time.time(), hi, path))
                k += 1
        except BaseException as e:  # noqa: BLE001 — re-raised by the caller after join
            self.error = e


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if p.numInputRows:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            out.append({"batch": p.batchId, "rows": p.numInputRows, "start": start,
                        "end": start + p.durationMs["triggerExecution"] / 1000,
                        "ms": dict(p.durationMs)})
    return out


def check_stream_output(run: Run, out: str, epochs: list[int], want: dict[int, list[str]]) -> dict[int, list[int]]:
    """Check the committed micro-batches as a fixed number of operations,
    so every run attempts the same count: one for the file layout of all
    epochs, and one per partition for every generated record exactly
    once, in offset order. Returns, per partition, the epoch that
    committed each record: epochs consume whole source files in order,
    so per partition they hold consecutive offset ranges."""
    got: dict[int, list[str]] = {p: [] for p in want}
    epoch_of: dict[int, list[int]] = {p: [] for p in want}
    layout: list[str] = []
    for e in sorted(epochs):
        rows, problems = read_batch_dir(os.path.join(out, f"epoch_{e}"), BATCH_SIZE)
        layout += problems
        for p, r in rows.items():
            if p not in want:
                layout.append(f"epoch {e}: unexpected partition {p}")
                continue
            got[p].extend(r)
            epoch_of[p].extend([e] * len(r))
    run.attempted += 1
    if layout:
        run.fail("stream epochs", "; ".join(layout[:3]))
    for p in sorted(want):
        run.attempted += 1
        problems = compare_partitions({p: got[p]}, {p: want[p]})
        if problems:
            run.fail("stream output", problems[0])
    return epoch_of


def stream(run: Run) -> None:
    from pyspark.sql.types import BinaryType, IntegerType, LongType, StringType, StructField, StructType, TimestampType

    spark = run.spark
    # Records for the wait for the trigger grid, the longest warm-up, the
    # window, and the ticks written while the window closes.
    topic = make_topic(run.seed, int(STREAM_RATE * (STREAM_TRIGGER_S + STREAM_WARM_DEADLINE_S + run.seconds + 5)))
    src, out, ckpt = (os.path.join(run.work, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = StructType([
        StructField("partition", IntegerType()), StructField("offset", LongType()),
        StructField("key", StringType()), StructField("value", BinaryType()),
        StructField("timestamp", TimestampType()),
    ])
    gen = _Generator(topic, src, STREAM_RATE, STREAM_TICK_S, STREAM_TRIGGER_S)
    state = {}

    def warm():
        gen.start()
        t = time.perf_counter()
        with run.tracer.span("sinks.streaming_sink"):
            writer = streaming_sink(spark.readStream.schema(schema).parquet(src), out, ckpt)
            query = state["query"] = writer.trigger(processingTime=f"{int(STREAM_TRIGGER_S * 1000)} milliseconds").start()
        start_s = time.perf_counter() - t
        deadline = time.time() + STREAM_WARM_DEADLINE_S
        while len(_progress(query)) < STREAM_WARM_BATCHES and time.time() < deadline:
            if query.exception() is not None or gen.error is not None:
                break
            time.sleep(0.05)
        committed = len(_progress(query))
        run.attempted += 1
        if committed < STREAM_WARM_BATCHES:
            run.fail("stream warm-up", f"{committed} of {STREAM_WARM_BATCHES} micro-batches committed "
                     f"within {STREAM_WARM_DEADLINE_S} s")
        # Charged: starting the query and running its triggers so far, but
        # not the waits for the trigger grid, whose phase differs per run.
        return start_s + sum(p.durationMs.get("triggerExecution", 0) for p in query.recentProgress) / 1000

    try:
        run.warmup(warm)
        query = state["query"]
        run.clear()
        before = stage_counters(spark, spill=True) if run.tracer.enabled else None
        ticks0 = _cpu_ticks()
        w0 = time.time()
        time.sleep(run.seconds)
        w1 = time.time()
        run.detail["host_steal_pct"] = _steal_pct(ticks0, _cpu_ticks())
        gen.stop_evt.set()
        gen.join(timeout=30)
        after = stage_counters(spark, spill=True) if run.tracer.enabled else None
        generated = gen.written
        deadline = time.time() + STREAM_DRAIN_S  # let the query commit what was generated
        while time.time() < deadline and query.exception() is None:
            if sum(p["rows"] for p in _progress(query)) >= generated:
                break
            time.sleep(0.1)
    finally:
        gen.stop_evt.set()
        gen.join(timeout=30)
        if "query" in state:
            state["query"].stop()
    if gen.error is not None:
        raise gen.error
    run.attempted += 1
    if gen.ran_dry:
        run.fail("stream generator", f"the {topic.n}-record topic ran out before the window closed")
    _invalid_utf8_check(run)

    batches = _progress(query)
    run.attempted += 1
    if query.exception() is not None:
        run.fail("streaming query", str(query.exception())[:300])

    want = topic.expected_payloads()
    for p in want:
        want[p] = want[p][: int((topic.partition[:generated] == p).sum())]
    epoch_of = check_stream_output(run, out, [b["batch"] for b in batches], want)

    end_of = {b["batch"]: b["end"] for b in batches}
    seq_of = {p: np.flatnonzero(topic.partition[:generated] == p) for p in range(N_PARTITIONS)}
    lat = []
    for p in range(N_PARTITIONS):
        for seq, e in zip(seq_of[p].tolist(), epoch_of[p]):
            due = gen.due(seq)
            if w0 <= due < w1:
                lat.append((end_of[e] - due) * 1000)
    expected = STREAM_RATE * run.seconds
    run.attempted += 1
    if len(lat) < 0.9 * expected:
        # Too few records due in the window were committed to measure.
        run.fail("stream window", f"latency of {len(lat)} records, want about {expected:.0f}")
    late = [(done - due) * 1000 for due, done, _, _ in gen.ticks if w0 <= due < w1]
    backlog = []  # records generated but not yet committed, at each tick
    for due, done, n_gen, _ in gen.ticks:
        if w0 <= due < w1:
            committed = sum(b["rows"] for b in batches if b["end"] <= done)
            backlog.append(n_gen - committed)
    run.latency_ms = _median(lat)
    inwin = [b for b in batches if w0 <= b["start"] < w1]
    # Spark reports whole milliseconds; the mean keeps the digits a
    # median of integers would drop.
    if inwin:
        run.build_ms = [statistics.fmean(
            b["ms"].get("latestOffset", 0) + b["ms"].get("getBatch", 0) + b["ms"].get("queryPlanning", 0)
            for b in inwin)]
        run.exec_ms = [statistics.fmean(b["ms"].get("addBatch", 0) for b in inwin)]
    run.detail.update({
        "offered_records_per_s": STREAM_RATE,
        "stream_p50_ms": run.latency_ms,
        "stream_p99_ms": _pct(lat, 99) if len(lat) >= 1000 else None,
        "samples": len(lat),
        "batches": len(inwin),
        "backlog_records_max": max(backlog, default=0),
        "backlog_growing": len(backlog) > 4 and backlog[-1] > 2 * max(backlog[: len(backlog) // 2]),
        "generator_late_ms_p99": _pct(late, 99) if len(late) >= 1000 else max(late, default=0.0),
    })
    # Program-side figures of the micro-batches that started in the window.
    files = size = 0
    for b in inwin:
        f, n = _dir_stats(os.path.join(out, f"epoch_{b['batch']}"))
        files, size = files + f, size + n
    run.layers.update({
        "sources.records": sum(b["rows"] for b in inwin), "sinks.files": files, "sinks.bytes": size,
        "streaming.batches": len(inwin), "streaming.backlog_records_max": max(backlog, default=0),
    })
    if run.tracer.enabled:
        run.layers.update({f"spark.{k}": after[k] - before[k] for k in after})
        _stream_layers(run, schema, [path for due, _, _, path in gen.ticks if w0 <= due < w1], inwin)


def _stream_layers(run: Run, schema, window_files: list[str], inwin: list[dict]) -> None:
    """Traced-only: the sink's plan, batch-id assignment alone over the
    window's source files, and the per-micro-batch durations."""
    spark, tr = run.spark, run.tracer
    if window_files:
        records = spark.read.schema(schema).parquet(*window_files)
        static = write_partition_batches(records, os.path.join(run.work, "plan_only"))  # planned, not run
        run.exchanges = [shuffle_count(static)]
        xs = []
        for i in range(3):
            tr.rep = i
            t = time.perf_counter()
            with tr.span("sources.with_batch_id", counters=True):
                with_batch_id(records).write.format("noop").mode("overwrite").save()
            xs.append((time.perf_counter() - t) * 1000)
        run.layers["sources.batch_id_ms"] = _median(xs)
    to_perf = time.perf_counter() - time.time()  # progress times are wall-clock
    for b in inwin:
        for k, v in b["ms"].items():
            start = b["start"] + to_perf
            tr.add(f"streaming.{k}", start, start + v / 1000, batch=b["batch"])
    for k in ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning"):
        run.detail[f"streaming.{k}_ms_p50"] = _median([b["ms"].get(k, 0) for b in inwin])
    run.detail["streaming.rows_per_batch_p50"] = _median([b["rows"] for b in inwin])


# -------------------------------------------------------------------- queries


def _table_dir(run: Run) -> str:
    d = os.path.join(run.cache_dir, f"tables_{TABLE_SCALE}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
        write_tables(d, TABLE_SCALE)
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return d


def _layer(q: str) -> str:
    return "operators" if q in OPERATOR_QUERIES else "llm"


def queries(run: Run) -> None:
    import duckdb

    sf_dir = _table_dir(run)
    order = list(OPERATOR_QUERIES + LLM_QUERIES)
    np.random.default_rng(run.seed).shuffle(order)

    def rotated(k: int) -> list[str]:
        # Pass k starts at query k: a query runs slower late in a pass,
        # so rotating puts each query at each position in turn.
        k %= len(order)
        return order[k:] + order[:k]

    results = {}
    spark = run.spark

    def warm():
        # One cold pass at the timed inputs; its results are the ones
        # checked against the oracle after the window. Then more cold
        # passes until the JVM has compiled the hot code. The process
        # tree starts on one CPU (run.py), so the JVM sizes its thread
        # pools for one; the warm-up lends it the others for a while.
        one = set(os.sched_getaffinity(0))
        _set_tree_affinity(run.all_cpus or one)
        clear_caches()
        for q in order:
            try:
                results[q] = registry.QUERIES[q](spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 — checked below
                results[q] = e
        for k in range(QUERIES_WARM_PASSES + QUERIES_PINNED_PASSES):
            if k == QUERIES_WARM_PASSES:
                _set_tree_affinity(one)
            clear_caches()
            for q in rotated(k + 1):
                if not isinstance(results[q], Exception):
                    try:
                        registry.QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001 — checked below
                        results[q] = e

    run.warmup(warm)

    tr = run.tracer
    times: dict[str, list[float]] = {q: [] for q in order}
    split: dict[str, list[tuple[float, float]]] = {q: [] for q in order}
    broken: set[str] = set()
    n_pass = 0
    entries = 0  # most live cache entries seen after a query
    before = stage_counters(spark, spill=True) if tr.enabled else None
    ticks0 = _cpu_ticks()
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or n_pass < 1:
        tr.rep = n_pass
        run.clear()
        pass_build = pass_exec = 0.0
        for q in rotated(n_pass):
            if time.perf_counter() >= t_end and n_pass >= 1:
                break
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(f"{_layer(q)}.{q}.build"):
                    df = registry.QUERIES[q](spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"{_layer(q)}.{q}.exec", counters=tr.enabled):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — counted, run continues
                run.fail(q, e)
                broken.add(q)
                continue
            entries = max(entries, registered_entry_count())
            times[q].append(t2 - t0)
            split[q].append((t1 - t0, t2 - t1))
            pass_build += t1 - t0
            pass_exec += t2 - t1
            if tr.enabled and n_pass == 0:
                run.exchanges.append(shuffle_count(df))
        run.build_ms.append(pass_build * 1000)
        run.exec_ms.append(pass_exec * 1000)
        n_pass += 1
    run.detail["host_steal_pct"] = _steal_pct(ticks0, _cpu_ticks())
    after = stage_counters(spark, spill=True) if tr.enabled else None

    # Oracle checks, outside the timed window.
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for q in order:
        res = results.get(q)
        if isinstance(res, Exception):
            run.attempted += 1
            run.fail(f"{q} (warm-up)", res)
            continue
        oracle = registry.ORACLE_SQL.get(q)
        if oracle is None:
            problems = [] if len(res) > 0 else ["no rows"]
        else:
            problems = compare_to_oracle(res, con.sql(oracle).arrow().to_pandas(date_as_object=True))
        if problems:
            # every timed execution of a query whose output is wrong fails
            run.failed += len(times[q])
            run.problems.append(f"{q}: {problems[0]}")
    con.close()

    missing = [q for q in order if not times[q]]
    # Each query's fastest cold run in the window: the JVM is still
    # speeding up over the window's few passes, and the minimum is the
    # figure that varied least between runs.
    run.latency_ms = sum(min(times[q]) for q in order if times[q]) * 1000
    run.detail.update({
        "pass_ms": run.latency_ms,
        "pass_ms_p50": sum(_median(times[q]) for q in order if times[q]) * 1000,
        "samples": min((len(times[q]) for q in order), default=0),
        "passes": n_pass,
        "order": order,
        "not_sampled": missing + sorted(broken),
        "query_ms_p50": {q: _median(times[q]) * 1000 for q in order if times[q]},
        "query_ms_samples": {q: [t * 1000 for t in times[q]] for q in order},
    })
    run.layers["cache.entries"] = entries
    if tr.enabled:
        run.layers.update({f"spark.{k}": after[k] - before[k] for k in after})
        for q in order:
            if split[q]:
                run.detail[f"{_layer(q)}.{q}_build_s"] = _median([b for b, _ in split[q]])
                run.detail[f"{_layer(q)}.{q}_exec_s"] = _median([e for _, e in split[q]])
        for t in ("lineitem", "orders", "events", "documents", "embeddings"):
            t0 = time.perf_counter()
            with tr.span(f"tables.load.{t}"):
                load(spark, sf_dir, t)
            run.detail[f"tables.load_s.{t}"] = time.perf_counter() - t0
        # A second pass without clearing: cold minus warm is the share
        # of the pass spent building cached features.
        t0 = time.perf_counter()
        for q in (q for q in order if q not in broken):
            with tr.span(f"cache.warm_pass.{q}"):
                registry.QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        run.detail["cache.warm_pass_s"] = time.perf_counter() - t0


WORKLOADS = {"stream": stream, "queries": queries}
