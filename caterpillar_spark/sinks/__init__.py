"""Sinks: lake-table targets for the CDC MERGE path.

The engine (``cdc.apply_changes``/``replay_chunks``, ``streaming.apply``)
writes to ``SnapshotTable`` (bucketed parquet + atomic snapshot log —
works in any sandbox). On a real cluster with the Iceberg runtime jar,
``iceberg_table.IcebergTable`` keeps the same read/ledger/merge contract
over ``MERGE INTO`` (import-gated, see SURVEY.md §7.5 "No Iceberg jar in
sandbox?"); it is driven through its own ``merge()``, not through
``apply_changes``, which may pass no offset range and reads back the
lineage counts that only ``SnapshotTable.merge`` derives. The
table's metadata (snapshot log, manifests, offset ledger, footer stats)
is ``table_log.TableLog``, which imports no Spark; so this package loads
``SnapshotTable`` only on first access.
"""


def __getattr__(name: str):
    if name == "SnapshotTable":
        from caterpillar_spark.sinks.snapshot_table import SnapshotTable

        return SnapshotTable
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
