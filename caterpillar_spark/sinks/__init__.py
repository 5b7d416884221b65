"""Sinks: lake-table targets for the CDC MERGE path.

The engine (``cdc.apply_changes``/``replay_chunks``, ``streaming.apply``)
writes to ``SnapshotTable`` (bucketed parquet + atomic snapshot log —
works in any sandbox). On a real cluster with the Iceberg runtime jar,
``iceberg_table.IcebergTable`` keeps the same read/ledger/merge contract
over ``MERGE INTO`` (import-gated, see SURVEY.md §7.5 "No Iceberg jar in
sandbox?"); it is driven through its own ``merge()``, not through
``apply_changes``.
"""

from caterpillar_spark.sinks.snapshot_table import SnapshotTable  # noqa: F401
