"""Plan-inspection helpers: assert the physical plan is the one we want
(pushdown reached the scan, aggregation has a map-side partial, column
pruning happened). The reference has no optimizer to inspect
(``pipeline.go:51-99`` executes the task list verbatim); for us Catalyst
does the work and these helpers make its output testable so regressions in
plan shape fail CI, not production. Two helpers serve the engine itself,
both without a Spark job: :func:`input_partitions` counts a frame's
partitions from its physical plan, for ``SnapshotTable``'s stats pass and
``fan_out``, and :func:`size_estimate` reads the optimizer's byte estimate,
for ``SnapshotTable``'s driver-merge bound."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries on every scan node."""
    txt = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", txt):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    txt = explain_str(df)
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        schemas.append(cols)
    return schemas


def input_partitions(df: DataFrame) -> int | None:
    """Partitions of ``df``'s physical plan, counted on the driver without
    running a Spark job, or None when counting could run one: an adaptive
    (AQE) plan, any exchange, or a subquery. ``execute()`` only builds
    the RDD of a plan free of those, but executing an AQE plan runs its
    stages (and ``df.rdd`` builds and runs them too). A cached frame is
    counted through the plan that fills its cache."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if (
            name == "AdaptiveSparkPlanExec"
            or "Exchange" in name
            or not node.subqueries().isEmpty()
        ):
            return None
        if name == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return plan.execute().getNumPartitions()


def size_estimate(df: DataFrame) -> int | None:
    """The optimizer's estimate of ``df``'s size in bytes, read from its
    optimized logical plan without running a Spark job, or None when the
    plan has no estimate: Spark then reports its default,
    ``spark.sql.defaultSizeInBytes``. A file scan is estimated from its
    files' sizes, a local relation from its rows, and a streaming
    ``foreachBatch`` frame keeps the stats of the plan it came from."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    default = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return None if size >= default else int(size)


def has_partial_aggregate(df: DataFrame) -> bool:
    """True if the plan splits aggregation into partial + final (map-side
    combine before the shuffle — the built-in skew defuser)."""
    txt = explain_str(df)
    return "partial_" in txt
