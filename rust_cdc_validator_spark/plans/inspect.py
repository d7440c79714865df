"""Physical-plan inspection + partitioning helpers.

``explain``-based assertions let tests pin the physical properties that
matter at 100 TB — filters reaching the parquet scan, projections pruning
columns, small dims going broadcast — instead of only checking row values.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only when the input is under-partitioned.

    Small parquet inputs (one file ⇒ one partition) serialize expensive
    projections (interpreted higher-order functions, pandas UDFs) onto a
    single core. At real scale inputs already have hundreds of partitions
    and this is a no-op — ``getNumPartitions`` is metadata, no job runs.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per parquet scan — the column-pruning check."""
    text = explain_str(df)
    out: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def exchanges_carrying(df: DataFrame, col_name: str) -> int:
    """Count Exchange (shuffle) nodes whose input carries ``col_name`` —
    the composed-pipeline audit: a corpus chain should move full TEXT
    through the minimum number of shuffles, whatever it does to 8-byte
    keys. Parses the formatted plan's per-node detail blocks (``(N)
    Exchange`` followed by ``Input [n]: [...]``)."""
    text = explain_str(df, "formatted")
    count = 0
    # detail blocks start at "(N) NodeName" and run to the next "(M) " header
    for block in re.split(r"\n(?=\(\d+\) )", text):
        m = re.match(r"\(\d+\) Exchange\b", block)
        if m and re.search(rf"\b{re.escape(col_name)}#\d+", block):
            count += 1
    return count
