"""Engine operators: each is a pure ``DataFrame -> DataFrame`` transform,
the Spark-native replacement for the reference's ``task.Task`` interface
(``internal/pkg/pipeline/task/task.go:32-38``). Register new ops in
``REGISTRY`` the way the reference registers task types in
``supportedTasks`` (``internal/pkg/pipeline/tasks.go:37-59``)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_REGISTRY: dict[str, Callable[..., DataFrame]] = {}


def fan_out(df: DataFrame, key: str | None = None) -> DataFrame:
    """Spread an under-parallelized input across the cluster before
    CPU-heavy per-row work (guide §2.5 "input skew": one unsplittable
    file — here, single-row-group parquet, which Spark cannot split below
    file level — serializes every downstream map op onto one task).

    No-op when the scan already has >= ``defaultParallelism`` partitions,
    so at production scale (thousands of splits) this never adds a
    shuffle; on a narrow input it costs one exchange of the projected
    columns and buys back the whole cluster. Hash-partitioning on
    ``key`` keeps the placement deterministic (guide §2.5 warns against
    rand-derived keys under task retry) and skips round-robin's
    sort-before-repartition pass."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def register(name: str):
    def deco(fn):
        _REGISTRY[name] = fn
        return fn

    return deco


def _load_all() -> None:
    """Populate the registry by importing every operator module (modules
    only need `register`, which is already defined)."""
    from caterpillar_spark.operators import (  # noqa: F401
        compress,
        dedup,
        docs,
        multimodal,
        sampling,
        similarity,
        text,
    )


def __getattr__(name: str):
    # REGISTRY fills on first access, not at package import: the table sink
    # imports only `dedup`, and loading every operator module would pull
    # pandas/numpy into the engine's driver (~60 MB RSS)
    if name == "REGISTRY":
        _load_all()
        return _REGISTRY
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
