"""Regression guard for the jar-gated Iceberg path (VERDICT r2 #8): the
MERGE statement and the ledger update (``table_log.updated_ledger``, shared
with SnapshotTable) are pure functions, so their exactly-once / LWW /
tombstone semantics are pinned here even though no Iceberg runtime exists
in this sandbox to execute them."""

from __future__ import annotations

import re

from caterpillar_spark.sinks.iceberg_table import merge_sql
from caterpillar_spark.sinks.table_log import updated_ledger


def test_merge_sql_lww_guard_and_tombstones():
    sql = merge_sql("lake.db.transcripts")
    # stored-LSN last-writer-wins guard on the matched arm
    assert re.search(r"WHEN MATCHED AND u\.lsn > t\.lsn THEN UPDATE", sql)
    # deletes are tombstones in BOTH arms — never a DELETE arm
    assert sql.count("u.op = 'D'") == 2
    assert "_deleted = (u.op = 'D')" in sql
    assert "WHEN MATCHED" in sql and "DELETE" not in sql.replace(
        "_deleted", ""
    )
    # source pre-dedupes to max-lsn per key (MERGE forbids multi-match)
    assert "PARTITION BY conv_id, turn_idx ORDER BY lsn DESC" in sql
    assert "WHERE _rn = 1" in sql
    # key join and full column set on both arms
    assert "ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx" in sql
    for col in ("role", "text", "tool", "ts", "lsn"):
        assert f"t.{col} = u.{col}" in sql
    assert (
        "INSERT\n              (conv_id, turn_idx, role, text, tool, ts, "
        "lsn, _deleted)" in sql
    )
    assert "MERGE INTO lake.db.transcripts t" in sql


def test_updated_ledger_covered_is_noop():
    ledger = {"default": [[0, 99]]}
    assert updated_ledger(ledger, "default", 10, 50) is None
    assert updated_ledger(ledger, "default", 0, 99) is None


def test_updated_ledger_merges_and_preserves_other_streams():
    ledger = {"default": [[0, 49]], "other": [[1000, 1999]]}
    out = updated_ledger(ledger, "default", 50, 99)
    assert out["default"] == [[0, 99]]  # adjacent ranges coalesce
    # the round-1 erasure bug: other streams' ranges must survive
    assert out["other"] == [[1000, 1999]]
    # partial overlap is NOT covered -> re-applied (merge() relies on the
    # u.lsn > t.lsn guard for idempotence in that case)
    out2 = updated_ledger(ledger, "default", 25, 75)
    assert out2["default"] == [[0, 75]]
    # the input ledger is never mutated (it is the parent snapshot's)
    assert ledger == {"default": [[0, 49]], "other": [[1000, 1999]]}


def test_updated_ledger_empty_summary():
    out = updated_ledger({}, "default", 5, 9)
    assert out == {"default": [[5, 9]]}
