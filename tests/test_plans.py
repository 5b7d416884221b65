"""Plan-shape regression tests: pushdown, pruning, partial aggregation.
A correct answer from a bad plan is a 100-TB incident waiting; these make
plan shape part of the test suite (SURVEY.md §4.3)."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from caterpillar_spark.operators import fan_out
from caterpillar_spark.plans import (
    has_partial_aggregate,
    input_partitions,
    pushed_filters,
    read_schema_columns,
    size_estimate,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.filter(F.col("event_type") == "purchase").select("event_id")
    pf = pushed_filters(q)
    assert any("event_type" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.select("event_id", "user_id")
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) == {"event_id", "user_id"}


def test_lww_agg_has_partial(spark, sf_dir):
    from caterpillar_spark.operators.dedup import last_writer_wins

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "event_id", "value"
    )
    q = last_writer_wins(ev, key=("user_id", "event_type"), lsn_col="event_id")
    assert has_partial_aggregate(q)


def test_nth_keyed_is_windowless(spark, sf_dir):
    """The driver's sample_nth row must never regress onto the deprecated
    global-window nth (single-task sort)."""
    import __spark_entry__ as entry

    from caterpillar_spark.plans.explain import explain_str

    q = entry.queries()["sample_nth"](spark, sf_dir)
    plan = explain_str(q)
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan


def test_dedup_clusters_plan_depth_bounded(spark):
    """A long-diameter component forces many label-propagation rounds; the
    periodic localCheckpoint must keep the final plan from stacking one
    self-join per round (Catalyst planning is the scale limit here)."""
    from caterpillar_spark.operators.docs import dedup_clusters

    from caterpillar_spark.plans.explain import explain_str

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    labels = dedup_clusters(chain, checkpoint_every=3)
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(13)}
    # with truncation the plan is a few ops over a checkpointed RDD
    # (~26k chars in extended mode); without it, 12 stacked self-joins
    # make even explain() non-terminating in minutes at 13 rows
    assert len(explain_str(labels, "extended")) < 60_000


def test_ngram_prefix_filter_is_exact(spark):
    """Prefix filtering must be lossless: identical pairs with and without
    it (the scale path may only shrink the CANDIDATE set)."""
    from caterpillar_spark.operators.docs import ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base.replace("gamma", "mu"), "en"),
            (3, base.replace("alpha", "nu").replace("zeta", "xi"), "en"),
            (4, "totally different words with no overlap at all here", "en"),
            (5, base, "fr"),  # same text, other block: never paired
            (6, "alpha beta", "en"),  # tiny doc: size-ratio pruned
        ],
        ["doc_id", "text", "lang"],
    )
    fast = ngram_jaccard_pairs(docs, threshold=0.3, n=2, prefix_filter=True)
    slow = ngram_jaccard_pairs(docs, threshold=0.3, n=2, prefix_filter=False)
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    got = canon(fast)
    assert got == canon(slow)
    assert (1, 2) in {(a, b) for a, b, _ in got}


def test_lsn_range_filter_pushdown(spark, tmp_path):
    """Chunked replay reads prune by LSN range at the scan."""
    from caterpillar_spark.generator import GeneratorSpec, change_events

    spec = GeneratorSpec(n_events=5000, n_convs=20, turns_per_conv=5)
    change_events(spark, spec).write.mode("overwrite").parquet(
        str(tmp_path / "ev")
    )
    df = spark.read.parquet(str(tmp_path / "ev"))
    q = df.filter((F.col("lsn") >= 1000) & (F.col("lsn") < 2000))
    pf = pushed_filters(q)
    assert any("lsn" in f and "GreaterThanOrEqual" in f for f in pf), pf


def test_input_partitions_counts_from_the_plan_without_a_job(
    spark, tmp_path, spark_jobs
):
    """A scan's partitions are counted on the driver; an aggregated frame,
    whose AQE stages would have to run to be counted, reads as None."""
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    rows = spark.createDataFrame([(i,) for i in range(100)], "id long")
    agg = one.groupBy((F.col("id") % 7).alias("k")).count()
    with spark_jobs("count") as jobs:
        assert input_partitions(one) == 1
        assert input_partitions(one.filter("id > 3")) == 1
        assert input_partitions(rows) == spark.sparkContext.defaultParallelism
        assert input_partitions(agg) is None
    assert jobs == []


def test_size_estimate_reads_the_plan_without_a_job(spark, tmp_path, spark_jobs):
    """A file scan is sized from its files, a local relation from its
    rows; a frame Spark cannot size (a parallelized list) reads as None."""
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    file_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    local = spark.createDataFrame(pd.DataFrame({"id": range(100)}))
    rows = spark.createDataFrame([(i,) for i in range(100)], "id long")
    with spark_jobs("size") as jobs:
        assert size_estimate(one) == file_bytes
        assert 0 < size_estimate(local) < 1 << 20
        assert size_estimate(rows) is None
    assert jobs == []


def test_fan_out_launches_no_job(spark, tmp_path, spark_jobs):
    """fan_out spreads a one-partition scan over the cores and leaves an
    aggregated frame as it is, without a job to count either."""
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    agg = one.groupBy((F.col("id") % 7).alias("k")).count()
    with spark_jobs("fan-out") as jobs:
        spread = fan_out(one, "id")
        assert fan_out(agg) is agg
    assert jobs == []
    assert input_partitions(spread) is None  # a repartition: an exchange
    assert spread.count() == 100
