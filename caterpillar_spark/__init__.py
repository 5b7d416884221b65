"""caterpillar_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the capabilities of ``patterninc/caterpillar``
(a single-process Go channel-pipeline ETL engine, see
``/root/reference/internal/pkg/pipeline/pipeline.go:51-99``) re-expressed
Spark-first:

- records            -> typed DataFrames (StructType), not byte blobs
- per-task LSN       -> ``lsn: long`` column on the change stream
- channel pipelines  -> Catalyst logical plans / Structured Streaming
- task_concurrency   -> partition parallelism
- offset-after-send  -> checkpoint + idempotent snapshot-ledger commit
                        (exactly-once, upgraded from at-least-once)

North star (BASELINE.json): binlog/WAL-style change tail -> dedup by LSN
(last-writer-wins) -> key-partitioned MERGE upsert into a lake table of
multi-turn agent transcripts, with schema evolution, skew salting,
per-partition lineage, resumable replay.
"""

__version__ = "0.1.0"

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
CHANGE_KEY = ["conv_id", "turn_idx"]


def __getattr__(name: str):
    # loaded on first access so that Spark-free modules (sinks.table_log)
    # import without pyspark
    if name == "get_spark":
        from caterpillar_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
