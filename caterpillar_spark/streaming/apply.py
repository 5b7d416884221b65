"""Structured Streaming ingestion: tail the change log, apply micro-batches
through the same exactly-once merge as batch replay.

The reference's streaming semantics map here as (SURVEY.md §2.9):

- Kafka group mode / store-offset-after-delivery
  (``task/kafka/kafka.go:288-293,404-406``) → Spark checkpoint WAL of file
  offsets + the table's own LSN-range ledger. Offsets live in TWO places on
  purpose: the checkpoint makes restarts resume at the right file, the
  snapshot ledger makes re-delivered batches no-ops — together: exactly-once.
- standalone full-replay mode (``kafka.go:210,234-236``) → fresh checkpoint
  dir + ``availableNow`` trigger.
- ``end_after`` bounded run (``task/server_task.go:7-12``) → availableNow.
- channel backpressure (``pipeline.go:13``) → ``maxFilesPerTrigger``.

A Kafka source drops in by swapping ``stream_changelog`` for
``spark.readStream.format("kafka")`` + ``from_json`` — the sink side is
source-agnostic, mirroring the reference's source/sink duality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from caterpillar_spark.cdc import apply_changes
from caterpillar_spark.sinks.snapshot_table import SnapshotTable

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("source_partition", T.IntegerType(), True),
    ]
)
# payload schema of a transcript table: the change-event columns minus the
# system columns (op, lsn, source_partition)
TRANSCRIPT_SCHEMA = T.StructType(
    [
        f
        for f in CHANGE_EVENT_SCHEMA.fields
        if f.name not in ("op", "lsn", "source_partition")
    ]
)


def stream_changelog(
    spark: SparkSession,
    log_dir: str,
    schema: T.StructType = CHANGE_EVENT_SCHEMA,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-based change-log stream (directory of ordered parquet segments,
    the binlog stand-in). The pinned schema is the stream's union schema:
    segments written before a column existed read as null — additive
    evolution without restart."""
    # segments are directories of part files (one per log chunk);
    # FileStreamSource does not recurse, so glob down to the part files
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{log_dir}/*")
    )


def apply_stream(
    stream: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    stream_id: str = "stream",
    available_now: bool = True,
    maintain_every: int | None = None,
) -> StreamingQuery:
    """Run the stream into the table via foreachBatch (MERGE is a batch op;
    this is the idiomatic Iceberg pattern too, SURVEY.md §7.5).

    Each micro-batch goes through ``apply_changes``: dedup → merge → atomic
    (data + offsets + lineage) snapshot commit. If Spark re-delivers a batch
    after a crash (checkpoint wrote the WAL but the sink already committed),
    the ledger skips it — that's the exactly-once half the checkpoint alone
    can't give.

    The merge picks the path per micro-batch: a batch that is small next
    to the files it overlaps takes the merge-on-read delta path (write
    volume O(batch)), a large one copy-on-write. With ``maintain_every=k``
    the sink runs incremental compaction (``table.maintain()``) after every
    k-th applied batch, bounding the read-side delta backlog — the
    streaming deployment's maintenance loop."""

    applied = {"n": 0}

    def handle(batch: DataFrame, batch_id: int) -> None:
        res = apply_changes(batch, table, batch_id=int(batch_id), stream_id=stream_id)
        if res.snapshot_version > 0 and maintain_every:
            applied["n"] += 1
            if applied["n"] % maintain_every == 0:
                table.maintain()

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
