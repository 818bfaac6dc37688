"""One session-scoped store for the package's memoized intermediates,
and the package's one materialization boundary.

Several operator families memoize an expensive intermediate per
(SparkSession, sf_dir) — hashed shingle sets, near-dup edge lists,
converged component labels, oriented graph edges, SimHash fingerprints
— as ``persist()``-ed or ``localCheckpoint()``-ed DataFrames. That is
the right call for one-shot bench / verify processes (the driver
re-imports fresh each round), but a long-lived session would otherwise
accumulate executor storage forever.

Every such intermediate goes through :func:`memo`, which keys it by
``(spark, sf_dir, name)`` in one store. Every query-local intermediate
that later plans read again (a loop round, a relation read on both
sides of a join) goes through :func:`park`, the one place that decides
how it is materialized — a lazy local checkpoint — and when it is
freed. :func:`release` frees one frame now; :func:`clear_caches`
evicts entries — optionally scoped to one session and/or one sf_dir —
unpersisting persisted frames and releasing checkpoint RDD blocks.
``bench.py`` calls it between scale factors and at teardown.

The same store keeps metadata entries (:func:`metadata`): facts about
one input file, such as a table's inferred schema, keyed by the file's
path and identity. Like Spark catalog metadata they hold no executor
storage and no disk, so no clear evicts them and
:func:`registered_entry_count` does not count them.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# (SparkSession, sf_dir, name) -> (value, level). Keyed on the
# SparkSession object itself (not id(): CPython reuses ids after GC,
# which could hand a new session a DataFrame bound to a stopped one);
# the strong session ref is deliberate. Values are DataFrames
# (storage-holding), plain scalars (memoized stats), :class:`TempDataset`
# paths (owned on-disk datasets), or tuples of these.
#
# ``level`` True marks a value that IS a query's answer (e.g.
# converged component labels), False a shared input feature (e.g.
# shingle sets). Timing tools must evict results between samples or
# they measure a dict lookup; feature entries may legitimately stay
# warm because a production pipeline would amortize them the same way.
# :data:`_META` marks metadata, keyed ``(spark, file path, name)``: it
# stays for the session's life, through every clear.
_STORE: dict[tuple[SparkSession, str, str], tuple[Any, bool | str]] = {}

# Store name under which :func:`park` collects frames; no memo uses it.
_PARKED = "<parked>"

# The level of a :func:`metadata` entry.
_META = "meta"


class TempDataset(str):
    """A cached path value that OWNS its on-disk temp dataset: cache
    eviction (and the atexit sweep) rmtree's it. An explicit ownership
    marker — plain ``str`` path values are never deleted — instead of
    inferring ownership from a basename prefix, which would delete a
    future non-owned path that happened to match. A ``str`` subclass
    so consumers (``spark.read.parquet``, ``os.path`` calls) treat it
    as the path it is. Dropping only the path string would orphan the
    dataset, and a later call would re-materialize into a fresh
    tempdir, compounding the leak on disk-bound hosts."""

    __slots__ = ()


def temp_dataset(spark: SparkSession, sf_dir: str, prefix: str) -> TempDataset:
    """The owned scratch directory ``<tmp>/ktps_<prefix>_<digest>`` for
    one (application, sf_dir). The digest hashes the application id
    with ``sf_dir``: a rebuild in the same application overwrites the
    same path instead of leaking a copy, while concurrent processes get
    disjoint paths, so one process's :func:`clear_caches` never deletes
    a directory another process is reading. Nothing is created here;
    return it from a :func:`memo` build so eviction removes it."""
    digest = hashlib.md5(
        f"{spark.sparkContext.applicationId}_{sf_dir}".encode()
    ).hexdigest()[:8]
    return TempDataset(os.path.join(tempfile.gettempdir(), f"ktps_{prefix}_{digest}"))


def _parts(value: Any) -> tuple:
    return value if isinstance(value, tuple) else (value,)


def _cleanup_temp_datasets() -> None:
    """atexit insurance: free any owned temp datasets still cached when
    the process exits without a teardown ``clear_caches`` — executor
    storage dies with the JVM, but /tmp parquet would outlive it on the
    disk-bound stress box. No Spark calls (the session may be gone)."""
    for value, _ in list(_STORE.values()):
        for v in _parts(value):
            if isinstance(v, TempDataset):
                shutil.rmtree(v, ignore_errors=True)


atexit.register(_cleanup_temp_datasets)


def memo(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], Any],
    *,
    result: bool = False,
) -> Any:
    """Return the value stored under ``(spark, sf_dir, name)``, running
    ``build()`` once to make it. ``build`` returns the value to keep —
    a persisted or checkpointed DataFrame, a :class:`TempDataset`, a
    scalar, or a tuple of these; ``memo`` persists nothing itself. A
    feature entry persists rather than checkpoints when its readers
    rely on the cached plan's partitioning and ordering, which an
    ``InMemoryTableScan`` advertises and a checkpoint scan does not.

    ``result=True`` marks a finished query answer:
    :func:`clear_result_caches` (used by bench/scaling/stress timers
    for measurement honesty) evicts only these and parked frames.
    """
    return _get((spark, sf_dir, name), build, result)


def metadata(
    spark: SparkSession, path: str, name: str, build: Callable[[], Any]
) -> Any:
    """Return the metadata entry ``name`` of the file at ``path``,
    running ``build()`` once per session to make it. ``name`` carries
    the file's identity (e.g. its mtime and size), so a file rewritten
    in place gets a new entry rather than a stale one. No clear evicts
    metadata: like a catalog's table metadata it holds no storage, and
    a cold pass should not pay to learn it again."""
    return _get((spark, path, name), build, _META)


def _get(key: tuple, build: Callable[[], Any], level: bool | str) -> Any:
    if key not in _STORE:
        _STORE[key] = (build(), level)
    return _STORE[key][0]


def park(df: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a query-local intermediate that later plans read
    again (a loop round, a relation read twice), register it for
    release at the next cache boundary (:func:`clear_result_caches`
    between timed samples, :func:`clear_caches` at teardown) and
    return the frame to read instead of ``df``.

    The boundary is ``df.localCheckpoint(eager=False)``: the returned
    frame's plan is a leaf, so a loop whose round reads the previous
    round twice plans in constant size. Parking runs ``df``'s shuffle
    stages at once, in the checkpoint's own execution (not the
    reading query's plan; ``tools/plan_audit.py`` reads it back); the
    first action that reads the frame runs the last stage and stores
    its blocks, on the executors only. After a release, or the loss
    of an executor, a plan reading the frame fails instead of
    recomputing it; ``checkpoint()`` (a reliable checkpoint directory)
    would survive executor loss at the cost of a write per frame."""
    frame = df.localCheckpoint(eager=False)
    key = (spark, sf_dir, _PARKED)
    frames, _ = _STORE.get(key, ((), True))
    _STORE[key] = (frames + (frame,), True)
    return frame


def release(df: DataFrame) -> None:
    """Free ``df``'s executor storage now and drop it from the parked
    frames. No later plan may read ``df``."""
    for key, (value, level) in list(_STORE.items()):
        if key[2] == _PARKED and any(v is df for v in value):
            _STORE[key] = (tuple(v for v in value if v is not df), level)
            if not _STORE[key][0]:
                del _STORE[key]
    _free(df)


def _free(df: DataFrame) -> None:
    """Unpersist a persisted frame; drop a checkpointed frame's blocks."""
    try:
        # blocking: the timing tools clear between samples precisely
        # so the NEXT sample doesn't run against lingering storage.
        df.unpersist(blocking=True)
        # A checkpointed frame never registers with the CacheManager,
        # so unpersist() is a no-op for it: release its RDD's blocks
        # instead of waiting for JVM GC and the ContextCleaner.
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
    except Exception:
        pass  # a stopped session: the storage died with it


def _evict(
    spark: SparkSession | None, sf_dir: str | None, results_only: bool
) -> int:
    n = 0
    for key, (_, level) in list(_STORE.items()):
        k_spark, k_dir, _ = key
        if level is _META:
            continue
        if spark is not None and k_spark is not spark:
            continue
        if sf_dir is not None and k_dir != sf_dir:
            continue
        if results_only and level is not True:
            continue
        value, _ = _STORE.pop(key)
        for v in _parts(value):
            if isinstance(v, DataFrame):
                _free(v)
            elif isinstance(v, TempDataset):
                # Owned temp-dataset path: free the on-disk parquet
                # with the cache entry (see TempDataset docstring).
                shutil.rmtree(v, ignore_errors=True)
        n += 1
    return n


def clear_caches(
    spark: SparkSession | None = None, sf_dir: str | None = None
) -> int:
    """Evict cached entries, unpersisting any cached DataFrame.

    ``spark``/``sf_dir`` scope the eviction (None = match all), so a
    pipeline moving from one dataset to the next can free the first
    dataset's executor storage without disturbing the current one.
    Metadata entries (:func:`metadata`, e.g. table schemas) stay: they
    hold no storage, and a cold pass after the clear reads them instead
    of inferring them again. Returns the number of entries evicted.
    Safe to call repeatedly and with a stopped session (unpersist
    failures are swallowed — the storage dies with the session anyway).
    """
    return _evict(spark, sf_dir, results_only=False)


def clear_result_caches(
    spark: SparkSession | None = None, sf_dir: str | None = None
) -> int:
    """Evict only result-level entries and parked frames (see :func:`memo`).

    The single mechanism behind the bench/scaling/stress rule "never
    time a memoized answer": tools call this between timed samples
    instead of reaching into private module state.
    """
    return _evict(spark, sf_dir, results_only=True)


def registered_entry_count() -> int:
    """Live entries: one per memo entry, plus one per (session, sf_dir)
    that has parked frames; metadata is not counted (test hook)."""
    return sum(1 for _, level in _STORE.values() if level is not _META)
