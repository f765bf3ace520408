"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join splitting,
Arrow for pandas UDFs); tests/bench override parallelism via ``cores``.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
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


# Persisted intermediates per session, by kind, oldest first: the one
# owner of their lifetime. Keyed by the SparkSession object itself, so
# sibling ``newSession()``s never share pins, and because the dict holds
# the session, its ``id()`` cannot be recycled by a later session.
_PINS: dict[SparkSession, dict[str, list[DataFrame]]] = {}


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
        _unpersist_quietly(pins.pop(0))
    pins.append(df.persist(level))
    return df


def release_pipeline_cache(spark: SparkSession | None = None) -> None:
    """Unpersist every relation the engine pinned for ``spark`` (every
    session's when None) -- the single release point, to call after the
    final action on a pipeline's or graph operator's output. Safe after
    the session stopped."""
    sessions = list(_PINS) if spark is None else [spark]
    for sess in sessions:
        for pins in _PINS.pop(sess, {}).values():
            for df in pins:
                _unpersist_quietly(df)


def _unpersist_quietly(df: DataFrame) -> None:
    # a stopped session has nothing left to unpersist; never let one dead
    # pin abort releasing the rest
    try:
        df.unpersist()
    except Exception:
        pass
