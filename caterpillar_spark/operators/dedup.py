"""Last-writer-wins dedup by LSN — the engine's central reducer.

Reference ancestry: the ``sst`` converter's sort + unique-key invariant
(``internal/pkg/pipeline/task/converter/sst.go:68-79``) is a single-process
last-writer-wins per key; here it becomes a distributed reduction.

Physical strategies over identical semantics:

- ``last_writer_wins``        — hash aggregate with ``max_by``. This is the
  DEFAULT and the scale answer: Catalyst plans partial (map-side) +
  final aggregation, so a hot key is pre-combined on every input
  partition before the shuffle — built-in skew resistance, no sort.
- ``last_writer_wins_window`` — ``row_number`` over a per-key descending-
  LSN window. Sort-based; a hot key serializes into one task. Kept for
  measurement contrast (SURVEY.md §7.5 watch list).
- ``last_writer_wins_salted`` — explicit two-phase salted reduce: partial
  max_by within (key, salt) buckets, then final over partials. What you
  deploy when a single key's traffic exceeds one executor's input and you
  want the pre-shuffle combine made explicit / AQE is off.
- ``last_writer_wins_pandas`` — ``applyInPandas`` per-key reducer,
  Arrow-vectorized. Exists to benchmark the pandas-UDF path against the
  JVM ops (SURVEY.md §2.10); never the default.
- ``last_writer_wins_arrow``  — the driver-side twin of the default over
  an Arrow table, for a batch small enough to reduce without a Spark job
  (the table sink's driver merge); pinned to it by a hypothesis test.

All return one row per (key) with the max-LSN payload, KEEPING delete
events (op='D' rows must survive dedup so MERGE can apply the delete —
filtering them here would resurrect older revisions).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from caterpillar_spark.operators import register
from caterpillar_spark.session import cached_columns

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_KEY = ("conv_id", "turn_idx")


def _payload_cols(columns: list[str], key: Sequence[str], lsn_col: str) -> list[str]:
    return [c for c in columns if c not in set(key) and c != lsn_col]


@register("dedup_lww")
def last_writer_wins(
    df: DataFrame, key: Sequence[str] = DEFAULT_KEY, lsn_col: str = "lsn"
) -> DataFrame:
    """Hash-agg max_by reducer (default). One shuffle, partial combine.
    Every non-key column rides in the ``max_by`` struct — including the
    table sink's ``_deleted`` tombstone flag, so this is also the reducer
    of ``SnapshotTable`` reads, merges and compactions. The Column lists
    are memoised per shape (it sits on the merge's per-batch driver path)."""
    payload = _payload_cols(df.columns, key, lsn_col)
    shape = (tuple(key), lsn_col, tuple(payload))
    spark = df.sparkSession
    agg = cached_columns(
        spark,
        "lww_agg",
        shape,
        lambda: [
            F.max_by(F.struct(*payload), F.col(lsn_col)).alias("_w"),
            F.max(lsn_col).alias(lsn_col),
        ],
    )
    sel = cached_columns(
        spark,
        "lww_sel",
        shape,
        lambda: [
            *key,
            *[F.col(f"_w.{c}").alias(c) for c in payload],
            F.col(lsn_col),
        ],
    )
    return df.groupBy(*key).agg(*agg).select(*sel)


def last_writer_wins_arrow(
    table: pa.Table, key: Sequence[str] = DEFAULT_KEY, lsn_col: str = "lsn"
) -> pa.Table:
    """:func:`last_writer_wins` on the driver, over an Arrow table, with
    ``max_by``'s semantics in one Spark partition: per key the max-LSN row
    wins, and of rows with equal LSNs the LAST in input order (``max_by``
    keeps its held row only while that row's LSN is strictly greater). A
    NULL key value groups like any other value, and tombstones are kept.
    The output has the Spark twin's columns (key, payload, lsn) and
    nullability (key fields as given, every other field nullable).

    ``lsn_col`` must hold no NULL: ``max_by`` skips such rows, which this
    reducer does not model, so it raises."""
    import pyarrow as pa

    if table.column(lsn_col).null_count:
        raise ValueError(f"{lsn_col} holds NULLs; reduce with last_writer_wins")
    lsns = table.column(lsn_col).to_pylist()
    winner: dict[tuple, int] = {}
    for i, k in enumerate(zip(*(table.column(c).to_pylist() for c in key))):
        j = winner.get(k)
        if j is None or lsns[i] >= lsns[j]:
            winner[k] = i
    out = table.take(list(winner.values())).select(
        [*key, *_payload_cols(table.column_names, key, lsn_col), lsn_col]
    )
    return out.cast(
        pa.schema([f if f.name in key else f.with_nullable(True) for f in out.schema])
    )


@register("dedup_lww_window")
def last_writer_wins_window(
    df: DataFrame, key: Sequence[str] = DEFAULT_KEY, lsn_col: str = "lsn"
) -> DataFrame:
    """row_number window reducer (sort-based, skew-prone; for contrast)."""
    w = Window.partitionBy(*key).orderBy(F.col(lsn_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register("dedup_lww_salted")
def last_writer_wins_salted(
    df: DataFrame,
    key: Sequence[str] = DEFAULT_KEY,
    lsn_col: str = "lsn",
    n_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase salted reduce for pathologically hot keys.

    Phase 1 reduces within (key, salt) where salt = pmod(hash(lsn), S) —
    uniform by construction since LSN is unique — phase 2 reduces the ≤S
    partials per key. Mirrors SURVEY.md §2.5 salting plan.
    """
    payload = _payload_cols(df.columns, key, lsn_col)
    salt = F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(n_salts)).alias("_salt")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key, "_salt")
        .agg(
            F.max_by(F.struct(*payload), F.col(lsn_col)).alias("_w"),
            F.max(lsn_col).alias(lsn_col),
        )
    )
    final = partial.groupBy(*key).agg(
        F.max_by(F.col("_w"), F.col(lsn_col)).alias("_w"),
        F.max(lsn_col).alias(lsn_col),
    )
    return final.select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload], lsn_col)


@register("dedup_lww_pandas")
def last_writer_wins_pandas(
    df: DataFrame, key: Sequence[str] = DEFAULT_KEY, lsn_col: str = "lsn"
) -> DataFrame:
    """applyInPandas per-key reducer (Arrow-vectorized benchmark variant).

    Groups by key; each pandas frame keeps its max-LSN row. Hot-key groups
    must fit in executor memory — documented limitation, default stays
    the hash-agg variant (SURVEY.md §7.5).
    """
    # imported here, not at module level: the table sink imports this
    # module for last_writer_wins, and pandas costs ~60 MB of driver RSS
    import pandas as pd

    schema = df.schema
    cols = df.columns

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.loc[[pdf[lsn_col].idxmax()], cols]

    return df.groupBy(*key).applyInPandas(reduce_group, schema=schema)
