from caterpillar_spark.streaming.apply import (  # noqa: F401
    CHANGE_EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    apply_stream,
    stream_changelog,
)
