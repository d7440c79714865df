"""Output checks that use only DuckDB and pyarrow, never the program under
test.  A table is summarised by an order-insensitive multiset digest, the
row count plus the sum and xor of a per-row hash over canonicalised
columns (timestamps as epoch microseconds, so Spark's INT96 and Arrow's
UTC timestamps compare equal)."""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa


def _select_list(pg_types: dict[str, str]) -> str:
    return ", ".join(
        f'epoch_us("{c}")' if t.startswith("timestamp") else f'"{c}"'
        for c, t in pg_types.items()
    )


def _digest_sql(rel: str, pg_types: dict[str, str]) -> str:
    h = f"hash({_select_list(pg_types)})"
    return (f"SELECT count(*), coalesce(sum(CAST({h} AS HUGEINT)), 0), "
            f"coalesce(bit_xor({h}), 0) FROM {rel}")


def digest_arrow(table: pa.Table, pg_types: dict[str, str]) -> tuple:
    with duckdb.connect() as con:
        con.register("_expected", table)
        return tuple(con.execute(_digest_sql("_expected", pg_types)).fetchone())


def parquet_files(directory: str) -> list[str]:
    return sorted(
        p for p in glob.glob(os.path.join(directory, "*.parquet"))
        if not os.path.basename(p).startswith((".", "_"))
    )


def digest_parquet_dir(directory: str, pg_types: dict[str, str]) -> tuple:
    files = parquet_files(directory)
    if not files:
        return (0, 0, 0)
    rel = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    with duckdb.connect() as con:
        return tuple(con.execute(_digest_sql(rel, pg_types)).fetchone())
