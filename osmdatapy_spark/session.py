"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from map output
  statistics.
- Arrow execution for the few pandas-UDF kernels (ring chaining, optional
  geometry) — batch transfer, never per-row pickling.
- ``spark.sql.shuffle.partitions`` sized by env (32 locally; a cluster
  deployment overrides to ~2-3× total cores, then AQE coalesces).
- session timezone pinned to UTC so timestamp semantics are stable across
  driver/executor locales (and match the DuckDB oracle).

This module is also the one home of driver-side state that belongs to a
session or a JVM.  Table and spread-table handles, parsed SQL
expressions, the way-geometry Column, the PBF source registration, the
decoded-once scan of each opened PBF and persisted intermediate frames
all live in one store, keyed by the live owner object: the
``SparkSession`` for session-bound handles, the ``SparkContext`` for
JVM-bound expressions.  The key holds the object, so its identity cannot
be reused while the entry exists; entries of stopped owners are pruned
on the next miss, and a session's first miss applies ``tune_session``.
The entries are plan handles, not data: the only data kept across
actions are the caches of persisted frames, held by Spark's cache
manager.

Contract:

- datasets are static within a session: a table handle keeps the file
  listing and schema it was built with until ``invalidate(sf_dir)`` is
  called for its directory;
- a frame persisted with ``managed_persist(df, key)`` lives until its
  cache is materialized and the same call site persists again (or
  ``release`` drops it);
- a frame shared with ``shared_persist(spark, slot, version, build)`` is
  built and persisted once per content version of its input, and is
  persisted again on the next call after its cache was dropped.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Hashable, TypeVar

from py4j.protocol import Py4JError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")


def get_spark(app_name: str = "osmdatapy-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split-packing floor: the 4 MB default collapses every sub-4MB file
        # to ONE task, serializing the whole map stage on small inputs (the
        # local sf* tables are sub-MB; lineitem sf0.1 is 10 MB → 3 tasks).
        # 512 KB lets local[32] parallelize scans ~7×. At scale this knob is
        # inert for well-sized files (maxPartitionBytes governs); a
        # tiny-file lake would raise it back via the env override.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "524288"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (bench/test processes don't pay the jetty
        # startup); tools that read the REST status API (task-time
        # quantiles in tools/skew_check.py) opt in via the env override
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-created session,
    once per session (on its first miss in the store).

    The driver hands us its own SparkSession; only touch conf keys that are
    runtime-mutable (timezone, AQE) and leave cluster sizing alone.
    """
    memo(spark, ("tuned",), lambda: True)
    return spark


def _apply_tuning(spark: SparkSession) -> None:
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # the synthetic events.parquet stores TIMESTAMP(NANOS); Spark reads
        # them as LONG under this flag and tables.load_table converts to
        # microsecond timestamps
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — fine, defaults are sane


# owner (SparkSession or SparkContext) -> {key: value}
_STATE: dict[Any, dict[tuple, Any]] = {}
_LOCK = threading.Lock()

# frames one call site persisted that no action has materialized yet stay
# registered; past this many the oldest is released anyway
_MAX_PENDING = 8


def _stopped(owner: Any) -> bool:
    sc = getattr(owner, "_sc", owner)
    try:
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Py4JError:
        return True


def memo(owner: Any, key: tuple, build: Callable[[], V]) -> V:
    """Return ``owner``'s value for ``key``, building it on a miss.

    ``owner`` is a SparkSession (session-bound handles) or a SparkContext
    (JVM-bound expressions).  Keys that depend on a dataset directory
    start with it, so ``invalidate`` can find them.
    """
    with _LOCK:
        entries = _STATE.get(owner)
        if entries is not None and key in entries:
            return entries[key]
        for o in [o for o in _STATE if o is not owner and _stopped(o)]:
            del _STATE[o]
        if entries is None:
            entries = _STATE[owner] = {}
            if isinstance(owner, SparkSession):
                _apply_tuning(owner)
    value = build()  # outside the lock: a build may memo other keys
    with _LOCK:
        return entries.setdefault(key, value)


def jvm_memo(key: tuple, build: Callable[[], V]) -> V:
    """``memo`` owned by the running SparkContext, for Columns and other
    JavaObjects that belong to the JVM rather than to one session; built
    uncached when no context is running."""
    sc = SparkContext._active_spark_context
    return build() if sc is None else memo(sc, key, build)


def invalidate(sf_dir: str) -> None:
    """Forget every handle built from ``sf_dir``: the table and
    spread-table DataFrames of every session and the trained
    ``functions.artifacts`` under that directory.  Call it after
    rewriting a dataset in place; the next read lists the new files."""
    from osmdatapy_spark.functions import artifacts

    with _LOCK:
        for entries in _STATE.values():
            for k in [k for k in entries if k[0] == sf_dir]:
                del entries[k]
    for k in [k for k in artifacts._CACHE if k[:1] == (sf_dir,)]:
        del artifacts._CACHE[k]


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Py4JError:
        pass  # session already stopped — nothing to release


def _materialized(cache_manager: Any, df: DataFrame) -> bool | None:
    """True once an action has filled every partition of ``df``'s cache,
    False before, None when ``df`` is no longer cached."""
    try:
        hit = cache_manager.lookupCachedData(df._jdf)
        if hit.isEmpty():
            return None
        return hit.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    except Py4JError:
        return None  # session stopped


def _persist_handles(spark: SparkSession) -> tuple[Any, Any]:
    """The JVM cache manager and the MEMORY_AND_DISK_DESER storage level.
    They cost 2 + 10 py4j round trips to look up; once per session keeps a
    persist at one round trip."""
    return memo(
        spark,
        ("persist",),
        lambda: (
            spark._jsparkSession.sharedState().cacheManager(),
            spark._sc._getJavaStorageLevel(StorageLevel.MEMORY_AND_DISK_DESER),
        ),
    )


def managed_persist(df: DataFrame, key: str) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK_DESER, as ``DataFrame.persist``)
    under the call-site ``key``.

    Query builders persist frames that stay part of the returned plan, so
    they cannot unpersist them themselves.  Instead, frames the same key
    persisted earlier are released here once their cache is materialized.
    A frame no action has filled yet stays registered, so two pipelines
    chained before either runs keep their caches (up to ``_MAX_PENDING``
    per key).  Releasing a materialized frame is always safe: a caller
    that still holds it simply recomputes its lineage."""
    spark = df.sparkSession
    cache_manager, level = _persist_handles(spark)
    frames = memo(spark, ("persisted", key), list)
    with _LOCK:
        pending = []
        for prev in frames:
            if prev is df:
                continue  # persisted again after its cache was dropped
            loaded = _materialized(cache_manager, prev)
            if loaded is False:
                pending.append(prev)
            elif loaded:
                _unpersist(prev)
        while len(pending) >= _MAX_PENDING:
            _unpersist(pending.pop(0))
        frames[:] = pending + [df]
    df.is_cached = True
    df._jdf.persist(level)
    return df


def shared_persist(
    spark: SparkSession, slot: str, version: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build`` returns for ``slot`` at ``version``, persisted
    once and shared by every caller in ``spark``.

    ``slot`` names the input (a resolved path) and ``version`` its current
    content signature.  The first call at a version builds the frame and
    persists it with ``managed_persist(df, slot)``, so the frame of an
    earlier version is released there once its cache is materialized, and
    the earlier version's entry is forgotten.  Every call checks that the
    cache still exists (two py4j round trips) and persists the frame again
    if it was dropped (``spark.catalog.clearCache()``, ``release``):
    without that, each later action would recompute the whole lineage."""
    df = memo(spark, (slot, "shared", version), build)
    with _LOCK:
        entries = _STATE[spark]
        for k in [k for k in entries if k[:2] == (slot, "shared") and k[2] != version]:
            del entries[k]
    cache_manager, _ = _persist_handles(spark)
    try:
        dropped = cache_manager.lookupCachedData(df._jdf).isEmpty()
    except Py4JError:
        dropped = True  # session stopped: the persist below reports it
    if dropped:
        managed_persist(df, slot)
    return df


def release(key: str | None = None) -> None:
    """Unpersist the frames registered under ``key`` (every key when
    None), in every session."""
    with _LOCK:
        frames = []
        for entries in _STATE.values():
            for k in [k for k in entries if k[0] == "persisted"]:
                if key is None or k[1] == key:
                    frames += entries.pop(k)
    for df in frames:
        _unpersist(df)
