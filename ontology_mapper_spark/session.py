"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join splitting,
Arrow for pandas UDFs); tests/bench override parallelism via ``cores``.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "ontology-mapper-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # large-dimension index builds / dedup join-backs move >1 GiB of
        # task results; the stock 1g cap fails healthy jobs mid-collect
        # (the index's label collect is ~300 B/label, ~1.2 GB at the
        # kernel's 4M-label ceiling)
        .config("spark.driver.maxResultSize", "4g")
        # Spark evicts generated classes LRU once its cache holds
        # maxEntries (default 100), and a kg_release pass alone compiles
        # 136, so every pass of a long-lived session evicted and recompiled
        # all of its own code (bigdim_link compiles 38, which fit). One
        # round of the 50 gate queries (sf0.001, local[4]) compiles about
        # 1,000 classes on a cold cache; a second round recompiled 1,276 at
        # the default cap and 98 at 2000 (68 with the class-name setting
        # below), with Metaspace 198 MB against 191 MB after two rounds.
        # Static conf: it applies only to contexts this factory starts (a
        # session attached to a running context keeps that context's cap),
        # and on a cluster it reaches the executors through SparkConf.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # AQE numbers whole-stage codegen stages in the order it plans
        # them, which follows which shuffle finished first; with the id in
        # the class name, one stage's code got a new cache key, and a
        # recompile, whenever that order changed between runs
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _prestart_python_workers(spark)
    return spark


def _prestart_python_workers(spark: SparkSession) -> None:
    """Spawn the session's Python worker pool once at session creation.

    Python workers are forked lazily on each core's FIRST Arrow/pandas
    task, so a fresh session charges ~one worker spawn + Arrow setup per
    core to whichever query happens to run first (measured: the first
    mapInPandas query in a 16-core session pays ~1.5-2.5 s that an
    identical second call does not). A deployment amortizes this across
    the session's lifetime; doing it at the factory makes the cost land
    in session init, where it belongs, instead of distorting the first
    query's latency. One tiny noop job over defaultParallelism
    partitions; workers are reused afterwards
    (spark.python.worker.reuse default). Opt out with
    SPARK_GRAFT_PRESTART=0 (e.g. for sessions that never run Python
    kernels)."""
    if os.environ.get("SPARK_GRAFT_PRESTART", "1") == "0":
        return
    if getattr(spark, "_oms_prestarted", False):
        return
    try:
        n = spark.sparkContext.defaultParallelism
        (
            spark.range(0, n, 1, n)
            .mapInPandas(lambda it: it, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        pass  # never fail session creation over a warmup
    try:
        spark._oms_prestarted = True
    except Exception:
        pass


# Persisted intermediates and broadcasts per session, by kind, oldest
# first: the one owner of their lifetime. Keyed by the SparkSession object
# itself, so sibling ``newSession()``s never share pins, and because the
# dict holds the session, its ``id()`` cannot be recycled by a later
# session.
_PINS: dict[SparkSession, dict[str, list[DataFrame | Broadcast]]] = {}


def pin(
    df: DataFrame, kind: str, keep: int, level: StorageLevel
) -> DataFrame:
    """Persist ``df`` at ``level`` and register it under its session,
    first unpersisting the oldest pins of ``kind`` so that at most
    ``keep`` stay. Eviction drops only the cache: a consumer that still
    references an evicted pin recomputes it. Eviction runs before the
    persist because Spark caches by plan: when the new plan equals an
    evicted one (the same mention table mapped twice), unpersisting
    afterwards would drop the new pin's cache entry too."""
    pins = _PINS.setdefault(df.sparkSession, {}).setdefault(kind, [])
    while len(pins) >= keep:
        _release_quietly(pins.pop(0))
    pins.append(df.persist(level))
    return df


def broadcast(spark: SparkSession, value) -> Broadcast:
    """Broadcast ``value`` and register it under ``spark`` until
    ``release_pipeline_cache``, which destroys it and so deletes its
    pickle from the driver's temp dir. Never evicted earlier: a plan
    that reads a destroyed broadcast fails instead of recomputing."""
    b = spark.sparkContext.broadcast(value)
    _PINS.setdefault(spark, {}).setdefault("broadcasts", []).append(b)
    return b


def release_pipeline_cache(spark: SparkSession | None = None) -> None:
    """Unpersist every relation and destroy every broadcast the engine
    registered for ``spark`` (every session's when None) -- the single
    release point, to call after the final action on a pipeline's or
    graph operator's output. An output built before the release cannot
    be acted on after it: its scoring broadcast is gone. Safe after the
    session stopped."""
    sessions = list(_PINS) if spark is None else [spark]
    for sess in sessions:
        for pins in _PINS.pop(sess, {}).values():
            for obj in pins:
                _release_quietly(obj)


def _release_quietly(obj: DataFrame | Broadcast) -> None:
    # a stopped session has nothing left to release; never let one dead
    # pin abort releasing the rest
    try:
        if isinstance(obj, Broadcast):
            obj.destroy()
        else:
            obj.unpersist()
    except Exception:
        pass
