"""SparkSession factory.

One builder for both environments:

* local tests / bench: ``local[N]`` single-JVM, shuffle partitions sized to
  cores (the default 200 over-parallelizes small data).
* cluster (the design target): the same settings are safe at scale — AQE
  re-plans shuffles at runtime (partition coalescing, skew-join splitting),
  broadcast threshold keeps dimension joins shuffle-free, and the session
  timezone is pinned to UTC so timestamp semantics are deployment-independent.

The reference configures nothing (one pandas thread); everything here is the
Spark-native replacement for its hand-rolled execution loop
(reference src/movie.py:247-299).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["driver_collect_bytes", "get_spark", "stop_spark"]


def get_spark(
    app_name: str = "tmdb_movie_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is supplied — on a real cluster, pass the
    cluster master / rely on spark-submit and this is a no-op.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores. cluster: callers override (e.g. 2-3× total cores).
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        # Essential at 100 TB where static partition counts are always wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/supplier/genre maps) broadcast:
        # no shuffle for the small side of a join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp semantics; matches the DuckDB oracle
        # (UTC-naive) and Parquet INT96/INT64 storage.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Partition-granular overwrite = the engine's idempotent
        # re-run unit (replaces the reference's per-month file overwrite,
        # src/movie.py:277-278).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        # Footprint for a box shared with other processes (a DuckDB oracle
        # runs beside Spark in verification): a 6g heap, and at most 8
        # idle Python workers kept, since a pandas worker never returns
        # freed heap to the OS. A process that runs alone (bench.py) passes
        # a larger heap and the full worker pool through ``extra_conf``.
        .config("spark.driver.memory", "6g")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "8")
        .config("spark.python.worker.idleTimeoutSeconds", "120")
        .config("spark.python.worker.killOnIdleTimeout", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_collect_bytes(spark: SparkSession) -> int:
    """Bytes a bounded input may take when it is collected to (or built on)
    the driver instead of running as distributed jobs: the session's
    broadcast threshold, i.e. what Spark itself would ship from the driver
    to every executor. A threshold ≤ 0 (broadcasts off) gives 0, which
    turns every driver path off."""
    conf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    return max(conf.autoBroadcastJoinThreshold(), 0)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
