"""Answer checks: each op's Spark result against its DuckDB oracle.

The comparison follows the registry's parity contract: same column names,
same row count, same type class per column, and the same order-insensitive
hash of the values (columns taken in name order, floats by ``repr``, rows
sorted), so two results match exactly or not at all.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow as pa

from iceberg_benchmark_poc_spark.core.io import TABLES


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + _type_class(t.value_type) + ">"
    return str(t)


def _norm(v) -> str:
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return repr(v)


def digest(table: pa.Table) -> dict:
    """Order-insensitive summary of a result table."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pydict()
    rows = sorted("\x1f".join(_norm(v) for v in row) for row in zip(*(data[c] for c in cols)))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {
        "columns": cols,
        "types": [_type_class(table.schema.field(c).type) for c in cols],
        "rows": table.num_rows,
        "hash": h.hexdigest(),
    }


def mismatch(spark_digest: dict, oracle_digest: dict) -> str | None:
    """None when the two digests agree, else the first difference."""
    for key in ("columns", "rows", "types", "hash"):
        if spark_digest[key] != oracle_digest[key]:
            return f"{key}: spark={spark_digest[key]!r} oracle={oracle_digest[key]!r}"
    return None


class Oracle:
    """DuckDB views over the same parquet fixtures the Spark side reads."""

    def __init__(self, sf_dir: str, threads: int):
        self.con = duckdb.connect(config={"threads": threads})
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def digest(self, sql: str) -> dict:
        return digest(self.con.sql(sql).arrow())

    def close(self) -> None:
        self.con.close()
