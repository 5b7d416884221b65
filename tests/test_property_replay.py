"""Property-based replay certification (hypothesis): for ARBITRARY small
change streams (any op mix, any chunking), engine final state ==
independent pandas reduction, and replay is idempotent.

Complements the seeded-generator tests: hypothesis explores op orderings
the generator never emits (delete-then-reinsert, upsert-only keys,
single-event keys, all-delete keys...)."""

from __future__ import annotations

import datetime as dt
from unittest.mock import patch

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from caterpillar_spark.cdc import apply_changes
from caterpillar_spark.sinks import snapshot_table
from caterpillar_spark.sinks.snapshot_table import SnapshotTable

PAYLOAD = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# a merge path is pinned through the delta threshold: infinite never picks
# delta, negative always does, the default lets the merge decide. "driver"
# is a delta merge of a batch the optimizer sizes within _DRIVER_BYTES (see
# _batch), which SnapshotTable reduces and writes on the driver; the other
# modes' batches have no size estimate, so Spark reduces and writes them
THRESHOLD = {
    "auto": snapshot_table._DELTA_THRESHOLD,
    "cow": float("inf"),
    "delta": -1,
    "driver": -1,
}

# the fold path after a chunk: none, or a maintain() that folds once two
# delta commits are live (never a base rewrite) on the driver or on Spark
FOLD_BYTES = {"driver": snapshot_table._DRIVER_BYTES, "spark": 0}

# c0-c4, then a key below and one above all of them: a batch may hold a
# key outside every stored file's conv_id range, and CoW pruning meets the
# edges of those ranges
KEYS = [f"c{i}" for i in range(5)] + ["a0", "z9"]

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *PAYLOAD.fields,
    ]
)


@st.composite
def change_stream(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for lsn in range(n):
        op = draw(st.sampled_from(["I", "U", "D", "UP"]))
        conv = draw(st.sampled_from(KEYS))
        turn = draw(st.integers(0, 3))
        text = None if op == "D" else f"t-{lsn}-{draw(st.integers(0, 9))}"
        events.append(
            (
                lsn,
                op,
                conv,
                turn,
                None if op == "D" else "user",
                text,
                None,
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn),
            )
        )
    n_chunks = draw(st.integers(min_value=1, max_value=3))
    # arbitrary merge path per chunk: CoW (file-pruned rewrite),
    # merge-on-read delta append on Spark or on the driver, or the auto
    # heuristic — any interleaving must converge to the same state
    modes = [
        draw(st.sampled_from(["auto", "cow", "delta", "driver"]))
        for _ in range(n_chunks)
    ]
    folds = [
        draw(st.sampled_from(["none", "driver", "spark"])) for _ in range(n_chunks)
    ]
    compact_at_end = draw(st.booleans())
    return events, n_chunks, modes, folds, compact_at_end


def _event(lsn, op, conv, turn, text):
    return (lsn, op, conv, turn, None if op == "D" else "user", text, None,
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn))


def _batch(spark, chunk, mode):
    """A chunk as a change batch. In "driver" mode it is a local relation
    (built from pandas, so the optimizer knows its size) in one
    partition, like a one-file streaming trigger; else a parallelized
    list, which Spark cannot size and spreads over the cores."""
    if mode == "driver":
        pdf = pd.DataFrame(chunk, columns=EVENT_SCHEMA.fieldNames())
        return spark.createDataFrame(pdf, EVENT_SCHEMA).coalesce(1)
    return spark.createDataFrame(chunk, EVENT_SCHEMA)


def _expected(events):
    pdf = pd.DataFrame(
        events, columns=["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    last = pdf.loc[pdf.groupby(["conv_id", "turn_idx"])["lsn"].idxmax()]
    live = last[last["op"] != "D"]
    return sorted(
        (r.conv_id, r.turn_idx, r.text) for r in live.itertuples()
    )


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,  # CI stability: same examples every run
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(change_stream())
@example((
    [_event(0, "I", "c0", 0, "a"), _event(1, "D", "c1", 0, None),
     _event(2, "D", "c0", 0, None), _event(3, "I", "c0", 0, "b")],
    2, ["driver", "delta"], ["none", "driver"], False,
))
def test_any_stream_reduces_correctly(spark, tmp_path_factory, stream):
    events, n_chunks, modes, folds, compact_at_end = stream
    tmp = tmp_path_factory.mktemp("prop")
    tbl = SnapshotTable(spark, str(tmp / "t"), n_buckets=4).create(PAYLOAD)
    sz = (len(events) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = events[i * sz : (i + 1) * sz]
        if not chunk:
            continue
        with patch.object(snapshot_table, "_DELTA_THRESHOLD", THRESHOLD[modes[i]]):
            apply_changes(_batch(spark, chunk, modes[i]), tbl, batch_id=i)
        assert tbl.snapshot().summary.get("driver", False) == (modes[i] == "driver")
        if folds[i] != "none":
            v = tbl.current_version()
            with patch.multiple(
                snapshot_table, _FOLD_COMMITS=2, _MAJOR_DELTA_FRAC=float("inf"),
                _DRIVER_BYTES=FOLD_BYTES[folds[i]],
            ):
                if tbl.maintain() > v:
                    summary = tbl.snapshot().summary
                    assert summary["operation"] == "fold"
                    assert summary.get("driver", False) == (folds[i] == "driver")
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in tbl.read().collect()
    )
    assert got == _expected(events)
    # idempotence: re-apply every chunk (a different path draw is fine — a
    # covered range must no-op regardless of path); state unchanged
    for i in range(n_chunks):
        chunk = events[i * sz : (i + 1) * sz]
        if not chunk:
            continue
        mode = modes[n_chunks - 1 - i]
        with patch.object(snapshot_table, "_DELTA_THRESHOLD", THRESHOLD[mode]):
            apply_changes(_batch(spark, chunk, mode), tbl, batch_id=i)
    again = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in tbl.read().collect()
    )
    assert again == got
    if compact_at_end:
        tbl.compact()
        assert (
            sorted(
                (r["conv_id"], r["turn_idx"], r["text"])
                for r in tbl.read().collect()
            )
            == got
        )
