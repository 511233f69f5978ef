"""SparkSession bootstrap.

Replaces the reference's 90-line environment-juggling ``init_spark``
(``sparktools/core.py:277-366``: SPARK_HOME/YARN env vars, PYSPARK_SUBMIT_ARGS
assembly, legacy SparkContext branch) with a single declarative builder.
Config is data, not env mutation; the legacy ``SQLContext``/``HiveContext``
split (``sparktools/core.py:369-411``) collapses into one ``SparkSession``.

Defaults are chosen for large-cluster behavior (AQE, Arrow, shuffle sizing)
while remaining correct on ``local[*]``.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator, Mapping
from contextlib import contextmanager
from typing import TYPE_CHECKING

from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.storagelevel import StorageLevel

# Scale-oriented defaults. Every one of these is a cluster-wide win that is
# also harmless locally:
# - AQE re-plans at runtime: coalesces small shuffle partitions, converts
#   sort-merge joins to broadcast when the built side turns out small, and
#   splits skewed partitions (skew-join handling) — critical at 100 TB where
#   static planning guesses wrong.
# - Arrow makes every pandas interchange (mapInPandas / toPandas) columnar
#   and vectorized instead of row-pickled.
# - UTC session timezone pins timestamp semantics so results are identical
#   across engines and cluster nodes.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # Quiet progress bars in CI logs.
    "spark.ui.showConsoleProgress": "false",
    # Bound the status stores: the SQL UI retains up to 1000 executions
    # INCLUDING their plan graphs by default — for an analytics session
    # running hundreds of large-plan queries that is hundreds of MB of
    # driver heap that never goes away (observed: a 255-query sweep
    # OOM-killed a default-sized driver JVM around query ~140). A
    # long-lived driver must bound retention; 50 executions is plenty
    # for debugging the recent past.
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "5000",
    "spark.worker.ui.retainedExecutors": "10",
    "spark.worker.ui.retainedDrivers": "10",
}


def session_builder(
    app_name: str = "spark_pipeline_spark",
    master: str | None = None,
    conf: Mapping[str, str] | None = None,
    shuffle_partitions: int | None = None,
    hive: bool = False,
) -> SparkSession.Builder:
    """Return a configured ``SparkSession.Builder`` (not yet built).

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` or ``local[N]`` with N =
    ``$SPARK_GRAFT_CPUS`` (else all cores). On a real cluster, leave
    ``master`` unset and let spark-submit provide it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    merged = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        # Local default: match core count. On a cluster, pass an explicit
        # value sized to ~128 MB per shuffle partition at the target SF, or
        # rely on AQE's coalescing with a high initial partition number.
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder


@contextmanager
def cached(df: "DataFrame", storage_level: "StorageLevel | None" = None) -> "Iterator[DataFrame]":
    """Persist a DataFrame for a multi-action scope, then release it.

    The reference caches ad-hoc and never unpersists (``scorer.py:48``;
    the mover forgets entirely and recomputes the source for its count,
    ``mover.py:33-35``). This makes the cache lifetime explicit::

        with cached(scored) as s:
            s.count(); save(s, conf)   # one materialization, two actions
    """
    from pyspark.storagelevel import StorageLevel as _SL

    df = df.persist(storage_level or _SL.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


# ---------------------------------------------------------------------------
# Query-scoped persists. Registry queries return LAZY frames, so an
# intermediate that feeds both sides of a self-join must stay persisted
# until the CALLER's action runs — a ``with cached(...)`` scope inside the
# query function would release it before the driver ever collects. The
# registry below makes that lifetime explicit and bounded: every
# query-internal persist is tracked FIFO, the oldest entries are evicted
# once more than _QUERY_CACHE_CAP frames are live (by then earlier queries'
# results have been consumed in any sequential driver/bench/test run), and
# ``release_query_caches()`` drops everything between queries. A frame
# evicted early is recomputed, never wrong.
# ---------------------------------------------------------------------------

_QUERY_CACHE_CAP = 16
_query_caches: list["DataFrame"] = []
_query_cache_lock = threading.Lock()

# ---------------------------------------------------------------------------
# Parquet schema memo (catalog behavior, METADATA only). Spark runs a
# 1-task schema-inference job on EVERY `spark.read.parquet(path)` call —
# measured 0.1–0.3 s each, uncached across repeated reads of the same
# path — so a 63-query bench re-paid it hundreds of times for the same
# base tables. A production deployment reads through a catalog (Hive
# metastore / Iceberg manifest) that stores the schema; this memo is
# that catalog for bare-path reads: infer once per (path, modification
# time), then attach the stored schema (`spark.read.schema(s).parquet`
# plans ZERO jobs). Every action still computes from the parquet bytes —
# nothing about results, listings, or data is cached; pushdown/pruning
# are unchanged (schema-first reads verified by the plan-audit tests).
# ---------------------------------------------------------------------------

_parquet_schema_memo: dict[str, tuple[int, object]] = {}


def _modification_time(spark: SparkSession, path: str) -> int | None:
    """The Hadoop modification time of ``path`` (ms), or ``None`` when it
    cannot be stat'ed (missing path, glob, no JVM)."""
    from py4j.protocol import Py4JError

    from spark_pipeline_spark.io.commit import filesystem

    try:
        fs, hpath = filesystem(spark, path)
        return int(fs.getFileStatus(hpath).getModificationTime())
    except (AttributeError, Py4JError):
        return None


def read_parquet_catalog(spark: SparkSession, path: str) -> "DataFrame":
    """Read a parquet path with the memoized schema (see above).

    The memo is keyed by the path AND its Hadoop modification time: a
    write that replaces the directory (``save`` in overwrite mode) or
    adds or removes files in it changes that time, so the next read
    infers the schema again, once. A path that cannot be stat'ed is read
    without the memo."""
    mtime = _modification_time(spark, path)
    hit = _parquet_schema_memo.get(path)
    if mtime is not None and hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if mtime is not None:
        _parquet_schema_memo[path] = (mtime, df.schema)
    return df


def _same_cache_entry(a: "DataFrame", b: "DataFrame") -> bool:
    """True when Spark's CacheManager would key both frames to ONE cache
    entry: identical canonicalized plans (``sameResult``). Schema names
    must match too — canonicalization erases attribute names, but a
    caller handed the aliased frame needs the names it asked for."""
    try:
        return a.schema == b.schema and a._jdf.queryExecution().analyzed().sameResult(
            b._jdf.queryExecution().analyzed()
        )
    except Exception:
        return False


def query_persist(
    df: "DataFrame", storage_level: "StorageLevel | None" = None
) -> "DataFrame":
    """Persist an intermediate that must outlive its query function.

    Use instead of a naked ``.persist()`` inside registry queries /
    dedup operators: the frame is registered so long-lived sessions
    running many queries don't accumulate storage without bound.

    ALIASING: CacheManager keys cache entries by canonicalized plan, so
    two persists of the same plan share ONE entry — unpersisting either
    frame drops both (the hazard tests/conftest.py documents). Repeated
    runs of one query (bench best-of-3) would otherwise thrash the FIFO
    past the cap and uncache a LIVE newer frame. Two guards: dedup on
    append (an identical-plan live entry is refreshed and returned
    instead of re-registered) and an eviction check (never unpersist an
    entry whose plan is shared by a newer live one). A lock makes the
    registry safe for multi-threaded drivers.

    On a dedup hit the EXISTING live entry is returned and the caller's
    ``storage_level`` is ignored — CacheManager keys by plan, so one
    plan can only ever hold one level; re-persisting would first drop
    the shared entry under the earlier caller. If the levels differ the
    caller gets the first-persist level (all in-repo callers use the
    MEMORY_AND_DISK default, so the case is theoretical).
    """
    from pyspark.storagelevel import StorageLevel as _SL

    with _query_cache_lock:
        for i, live in enumerate(_query_caches):
            if _same_cache_entry(df, live):
                _query_caches.append(_query_caches.pop(i))
                return live
        df = df.persist(storage_level or _SL.MEMORY_AND_DISK)
        _query_caches.append(df)
        while len(_query_caches) > _QUERY_CACHE_CAP:
            old = _query_caches.pop(0)
            if any(_same_cache_entry(old, live) for live in _query_caches):
                continue  # shared cache entry — a live frame still needs it
            try:
                old.unpersist()
            except Exception:  # session already stopped — nothing to release
                pass
        return df


def release_query_caches() -> int:
    """Unpersist every live query-internal cache; returns the count.

    Call between queries in sequential sweeps (bench, parity tests) or
    periodically in a long-lived session.

    Also runs a Python GC pass: iterative operators (connected
    components, PageRank) truncate lineage with ``localCheckpoint``,
    whose blocks are reclaimed by Spark's ContextCleaner only after the
    JVM-side RDD object is garbage — and py4j keeps that object alive
    until the PYTHON wrapper is collected. A long sequential session
    (the 255-query sweep; a multi-query driver) otherwise accumulates
    every round's checkpoint blocks until the JVM heap dies (observed:
    OOM at query ~140 of the sf0.1 sweep, ConnectionRefused cascade
    after). One collect() per release keeps the block manager bounded.
    """
    import gc

    with _query_cache_lock:
        n = len(_query_caches)
        for df in _query_caches:
            try:
                df.unpersist()
            except Exception:
                pass
        _query_caches.clear()
    gc.collect()
    return n


def get_session(
    app_name: str = "spark_pipeline_spark",
    master: str | None = None,
    conf: Mapping[str, str] | None = None,
    shuffle_partitions: int | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or reuse) the process-wide SparkSession."""
    return session_builder(
        app_name=app_name,
        master=master,
        conf=conf,
        shuffle_partitions=shuffle_partitions,
        hive=hive,
    ).getOrCreate()
