"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at the
given SF, compare row count + schema-insensitive sorted value multiset.

Usage: python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from caterpillar_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows), key=repr
    ), [cols[i] for i in order]


def spark_kind(dt) -> str:
    """Canonical type token for a Spark DataType (driver-hash granularity)."""
    from pyspark.sql import types as T

    m = {
        T.LongType: "int64", T.IntegerType: "int32", T.ShortType: "int16",
        T.DoubleType: "float64", T.FloatType: "float32",
        T.StringType: "string", T.BooleanType: "bool",
        T.TimestampType: "timestamp", T.TimestampNTZType: "timestamp",
        T.DateType: "date", T.BinaryType: "binary",
    }
    for cls, tok in m.items():
        if isinstance(dt, cls):
            return tok
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_kind(dt.elementType)}>"
    return str(dt)


def arrow_kind(t) -> str:
    """Canonical type token for a pyarrow DataType (DuckDB result side)."""
    import pyarrow as pa

    kinds = [
        ("int64", pa.types.is_int64), ("int32", pa.types.is_int32),
        ("int16", pa.types.is_int16), ("float64", pa.types.is_float64),
        ("float32", pa.types.is_float32), ("string", pa.types.is_string),
        ("string", pa.types.is_large_string), ("bool", pa.types.is_boolean),
        ("timestamp", pa.types.is_timestamp), ("date", pa.types.is_date),
        ("binary", pa.types.is_binary), ("binary", pa.types.is_large_binary),
        ("decimal", pa.types.is_decimal),
    ]
    for tok, is_kind in kinds:
        if is_kind(t):
            return tok
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_kind(t.value_type)}>"
    return str(t)


def type_drift(sdf, arrow_schema) -> list[str]:
    """Columns whose Spark vs DuckDB-arrow types would hash differently in
    the driver even when the Python values compare equal (the round-1
    ``sessionize`` trap: DuckDB windowed sum -> HUGEINT/decimal128 vs
    Spark BIGINT)."""
    s = {f.name: spark_kind(f.dataType) for f in sdf.schema.fields}
    d = {f.name: arrow_kind(f.type) for f in arrow_schema}
    return [
        f"{c}: spark={s[c]} duckdb={d[c]}"
        for c in sorted(set(s) & set(d))
        if s[c] != d[c]
    ]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        pinned_sf = getattr(entrymod, "SF_PINNED_ORACLES", {}).get(name)
        # exact basename compare, not endswith: 'mysf0.01' must not enable a
        # scale-pinned oracle against the wrong corpus (ADVICE r5)
        sf_base = os.path.basename(sf_dir.rstrip("/"))
        if name not in oracles or (pinned_sf and sf_base != pinned_sf):
            status = "ROWS-ONLY"
            note = f" (oracle pinned to {pinned_sf})" if pinned_sf else ""
            print(f"{status:9s} {name}: rows={len(srows)}{note} "
                  f"({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            atbl = con.execute(oracles[name]).arrow()
            dcols = atbl.column_names
            drows = [
                tuple(row[c] for c in dcols) for row in atbl.to_pylist()
            ]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        drift = type_drift(sdf, atbl.schema)
        s_canon, s_names = canon(scols, srows)
        d_canon, d_names = canon(dcols, drows)
        if drift:
            print(f"FAIL {name}: type drift (driver hash-mismatch): {drift}")
            n_fail += 1
        elif s_names != d_names:
            print(f"FAIL {name}: columns {s_names} vs {d_names}")
            n_fail += 1
        elif len(s_canon) != len(d_canon):
            print(f"FAIL {name}: rowcount {len(s_canon)} vs {len(d_canon)}")
            n_fail += 1
        elif s_canon != d_canon:
            diff = [
                (a, b) for a, b in zip(s_canon, d_canon) if a != b
            ][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS      {name}: rows={len(s_canon)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
