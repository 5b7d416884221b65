"""SparkSession factory tuned for the CDC engine.

Local-mode knobs mirror what we'd set on a real cluster: AQE on (runtime
re-planning + skew-join splitting), Arrow on (vectorized pandas UDF path —
the reference's per-record interpreted jq, ``internal/pkg/jq/jq.go:61-70``,
is exactly what we refuse to replicate), shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _submitted_master() -> bool:
    """Whether spark-submit already chose this driver's master. It starts
    the JVM before Python and hands over the gateway port; that JVM's conf
    holds ``--master`` (or spark-submit's default). A plain-python driver
    has no such port: it launches its own JVM, later sessions included."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return False
    SparkContext._ensure_initialized()
    return SparkConf().contains("spark.master")


def get_spark(
    app_name: str = "caterpillar_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int N -> ``local[N]``; ``"*"`` -> all; default from
    ``$SPARK_GRAFT_CPUS`` or ``*``. Under spark-submit the submitted master
    is kept and ``cores`` only sizes the shuffle partitions.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, ncores)

    builder = SparkSession.builder
    if not _submitted_master():
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # shuffle/spill codec: zstd's better ratio cuts shuffle disk I/O
        # for the payload-heavy merge exchange (A/B at 10M events: 18.7s
        # -> 17.0s replay median, tighter tail; guide §9 default). Parquet
        # stays snappy - A/B showed no difference there and snappy is
        # cheapest on CPU.
        .config("spark.io.compression.codec", "zstd")
        # pandas UDF batches: bounded memory per Arrow batch at scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Unresolved Column objects are immutable and bind to attributes by name at
# analysis time, so identical column lists (the merge's observe metrics and
# projection, the LWW agg/select lists) are reusable across batches and
# table handles. Rebuilding them each merge is pure py4j round-trip cost on
# the per-batch serial path (~23 ms for the LWW lists alone). A Column is a
# py4j ref into one JVM, so the cache holds ONE application's lists and is
# replaced when the applicationId changes. Unlocked: two threads racing on
# a miss both build a valid list, and the last one stored wins.
_column_cache: tuple[str | None, dict[tuple, list]] = (None, {})


def cached_columns(spark, kind: str, params: tuple, build) -> list:
    """``build()``'s Column list for ``(kind, params)``, memoised for the
    current Spark application."""
    global _column_cache
    app = spark.sparkContext.applicationId
    if _column_cache[0] != app:
        _column_cache = (app, {})
    cols = _column_cache[1].get((kind, params))
    if cols is None:
        cols = _column_cache[1][(kind, params)] = build()
    return cols
