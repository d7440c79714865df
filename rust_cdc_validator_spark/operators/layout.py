"""Data-layout operators: multi-dimensional clustering for scan pruning.

A 100 TB table is usually filtered on MORE than one column (user AND
time, key AND shard). Sorting by one column gives perfect parquet
row-group pruning on it and none on the others; Z-ORDERING interleaves
the bits of several columns into one sort key so that rows close in the
multi-dimensional key space land in the same files — every interleaved
column then prunes reasonably well (the standard lakehouse layout lever;
Delta/Iceberg expose the same idea as OPTIMIZE ZORDER BY).

Everything here is JVM bit arithmetic (shifts/and/or — whole-stage
codegen, no UDF) plus one range repartition:

* :func:`zorder_value` — the interleaved key as a Column over
  pre-scaled non-negative ints (engine-portable bit math: the SQL
  oracle replays it with the same shifts);
* :func:`zorder_layout` — end-to-end: one min/max aggregation pass
  scales each column into ``bits``-bit grid cells, computes the key,
  and range-partitions + sorts the frame by it, ready for a parquet
  write whose per-file min/max statistics then prune on EVERY clustered
  column (pytest demonstrates the file-level min/max spread shrinking
  vs a single-column sort).

Scale shape: one agg pass (2 doubles per column to the driver), one
range exchange (the write shuffle any re-layout pays — sampled range
boundaries keep files even), per-file sort. Nothing else moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integral)
    column into one Z-value: bit ``i`` of column ``j`` lands at position
    ``i * n_cols + j``. Pure shift/mask/or expression tree —
    ``bits × n_cols`` codegen'd terms, no UDF. Callers with raw values
    scale them into ``[0, 2**bits)`` first (:func:`zorder_layout` does
    this from a min/max pass)."""
    if not cols:
        raise ValueError("zorder_value needs at least one column")
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError("bits * n_cols must fit in a signed 64-bit key")
    n = len(cols)
    out = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return out


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    key_col: str = "_z",
) -> DataFrame:
    """Cluster ``df`` for multi-column pruning: scale each named numeric
    column onto a ``2**bits`` grid (one min/max pass), interleave into a
    Z-value, and return the frame range-partitioned + sorted by it (the
    ``key_col`` stays on the frame for inspection/tests; drop it before
    writing if undesired). Write the result with plain ``.parquet()`` —
    each output file then covers a compact hyper-rectangle of the key
    space, so parquet footer min/max statistics prune scans filtered on
    ANY of the clustered columns."""
    if not cols:
        raise ValueError("zorder_layout needs at least one column")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo = float(row[f"_lo_{c}"] or 0.0)
        hi = float(row[f"_hi_{c}"] or 0.0)
        span = hi - lo
        if span <= 0:
            scaled.append(F.lit(0))
            continue
        cell = F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(top + 1)
        ).cast("long")
        scaled.append(F.least(F.greatest(cell, F.lit(0)), F.lit(top)))
    keyed = df.withColumn(key_col, zorder_value(scaled, bits))
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(parts, F.col(key_col)).sortWithinPartitions(
        key_col
    )


def _ranged(
    df: DataFrame, order_cols: list[str], num_ranges: int | None
) -> DataFrame:
    """The prefix scans' range-partitioned, sorted, ``_pid``-tagged frame,
    materialized ONCE: the partition-local windows and the per-partition
    offsets both read it, and two evaluations of the range exchange may
    draw different boundaries (sampled), tagging rows with different
    ``_pid`` values and corrupting the offsets."""
    parts = num_ranges or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    return (
        df.repartitionByRange(int(parts), *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum_before",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exclusive running sum of ``value_col`` in global ``order_cols``
    order, WITHOUT the single-task global window.

    ``Window.orderBy(...)`` with no partition key funnels the whole table
    through ONE task — the textbook scale cliff. This is the standard
    two-phase fix:

      1. range-repartition + sort by ``order_cols`` (the one exchange any
         globally-ordered computation pays) and compute the LOCAL running
         sum per partition with a window PARTITIONED by
         ``spark_partition_id()`` — Catalyst sees the aggregation keyed,
         so every partition sums independently;
      2. per-partition totals (a partitions-sized frame) get their own
         tiny exclusive scan and are broadcast-joined back as offsets.

    The result is exact whatever the sampled range boundaries turn out to
    be; ties in ``order_cols`` would make it boundary-DEPENDENT, so pass
    a tie-free key (append a unique id). The output adds ``out_col`` =
    sum of all strictly-preceding rows' values (first row: 0).
    """
    return prefix_sums(df, order_cols, {value_col: out_col}, num_ranges)


def prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    value_cols: dict[str, str],
    num_ranges: int | None = None,
) -> DataFrame:
    """Exclusive running sums of SEVERAL value columns in one pass —
    identical two-phase plan to :func:`prefix_sum` (range exchange +
    partition-local windows + one broadcast offset join), amortized over
    every requested column instead of re-sorting per column.
    ``value_cols`` maps each input column to its output cumulative-sum
    column name. Same tie-free-order contract as :func:`prefix_sum`.
    """
    if not value_cols:
        raise ValueError("value_cols must not be empty")
    ranged = _ranged(df, order_cols, num_ranges)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged
    for i, c in enumerate(value_cols):
        local = local.withColumn(
            f"_local{i}", F.coalesce(F.sum(F.col(c)).over(w), F.lit(0))
        )
    wp = (
        Window.orderBy("_pid")  # partitions-sized frame: 1-task window is fine
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = ranged.groupBy("_pid").agg(
        *[F.sum(F.col(c)).alias(f"_ptot{i}") for i, c in enumerate(value_cols)]
    )
    for i in range(len(value_cols)):
        offsets = offsets.withColumn(
            f"_off{i}", F.coalesce(F.sum(f"_ptot{i}").over(wp), F.lit(0))
        )
    offsets = offsets.select(
        "_pid", *[f"_off{i}" for i in range(len(value_cols))]
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for i, (c, name) in enumerate(value_cols.items()):
        out = out.withColumn(name, F.col(f"_local{i}") + F.col(f"_off{i}"))
    return out.drop(
        "_pid",
        *[f"_local{i}" for i in range(len(value_cols))],
        *[f"_off{i}" for i in range(len(value_cols))],
    )


def plan_compaction(
    files: DataFrame,
    size_col: str,
    order_cols: list[str],
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction plan (the OPTIMIZE / rewrite-data-files
    companion to :func:`zorder_layout`): assign inputs to output bins of
    ~``target_bytes`` by streaming them in ``order_cols`` order and
    cutting a new bin every time the running total crosses the target —
    ``bin = floor(cum_before / target)``.

    Deterministic (given a tie-free order key), one-pass, and exactly
    replayable in SQL — unlike greedy first-fit-decreasing, whose
    sequential bin state can't be expressed as a window. Bins average to
    the target; a single input larger than ``target_bytes`` gets a bin of
    its own plus spillover, which matches rewrite semantics (an oversized
    file is copied, not split). Scale shape: one range exchange + the
    broadcast offset join from :func:`prefix_sum`; no global-window task.
    """
    if target_bytes < 1:
        raise ValueError("target_bytes must be >= 1")
    with_cum = prefix_sum(files, order_cols, size_col)
    return with_cum.withColumn(
        "bin", F.floor(F.col("cum_before") / F.lit(target_bytes)).cast("int")
    ).drop("cum_before")


def prefix_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "run_max_before",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exclusive running MAX of ``value_col`` in global ``order_cols``
    order — :func:`prefix_sum`'s shape with a max monoid: range exchange,
    partition-local window, per-partition maxima scanned exclusively and
    broadcast back as offsets (combined with ``greatest``). The first row
    gets NULL (max has no identity element, unlike sum's 0). Same
    tie-free-order contract. Feeds running-record computations — e.g. the
    2-D Pareto frontier (operators/pareto.py) keeps rows beating every
    predecessor's best."""
    ranged = _ranged(df, order_cols, num_ranges)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_lmax", F.max(F.col(value_col)).over(w))
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.max(F.col(value_col)).alias("_pmax"))
        .withColumn("_off", F.max("_pmax").over(wp))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            F.when(F.col("_lmax").isNull(), F.col("_off"))
            .when(F.col("_off").isNull(), F.col("_lmax"))
            .otherwise(F.greatest(F.col("_lmax"), F.col("_off"))),
        )
        .drop("_pid", "_lmax", "_off")
    )


def hilbert_key(
    df: DataFrame,
    x: Column,
    y: Column,
    bits: int = 16,
    out_col: str = "_hilbert",
) -> DataFrame:
    """2-D Hilbert curve index of (x, y) on a 2^bits × 2^bits grid —
    the better-locality sibling of :func:`zorder_value`: consecutive
    Hilbert keys are ALWAYS grid neighbors (Z-order jumps across the
    plane at every power-of-two boundary), so range-partitioned files
    cover tighter rectangles and parquet min/max pruning cuts deeper on
    both clustered columns. This is the clustering transform behind
    modern "liquid"-style layouts.

    The classic xy→d bit walk (one rotation/reflection per bit level,
    MSB first) runs as ``bits`` chained PROJECTIONS, each materializing
    the rotated frame as named columns — deliberately NOT one nested
    Column expression: the conditional swap consumes the previous
    frame ~3 times, so a single expression tree grows 3^bits nodes and
    stalls analysis/codegen (measured: 4 min at bits=8); the projected
    form is linear and Catalyst keeps it so (CollapseProject never
    inlines non-cheap multi-referenced aliases). Inputs must already
    lie in [0, 2^bits) (:func:`hilbert_layout` scales them; callers
    mask otherwise). Exact integer arithmetic end to end, so a
    generated SQL oracle replays the key bit-for-bit."""
    if bits < 1 or 2 * bits > 62:
        raise ValueError("bits must be in [1, 31]")
    n = 1 << bits
    base = [F.col(c) for c in df.columns]
    cur = df.select(
        *base,
        x.cast("long").alias("_hx"),
        y.cast("long").alias("_hy"),
        F.lit(0).cast("long").alias(out_col),
    )
    for i in reversed(range(bits)):
        s_ = 1 << i
        rx = F.shiftright(F.col("_hx"), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), i).bitwiseAND(F.lit(1))
        d = F.col(out_col) + F.lit(s_) * F.lit(s_) * (
            (F.lit(3) * rx).bitwiseXOR(ry).cast("long")
        )
        # rotate the frame: ry==1 keeps orientation; ry==0 swaps axes,
        # and rx==1 additionally reflects both through the grid
        nx = F.when(ry == 1, F.col("_hx")).otherwise(
            F.when(rx == 1, F.lit(n - 1) - F.col("_hy")).otherwise(
                F.col("_hy")
            )
        )
        ny = F.when(ry == 1, F.col("_hy")).otherwise(
            F.when(rx == 1, F.lit(n - 1) - F.col("_hx")).otherwise(
                F.col("_hx")
            )
        )
        cur = cur.select(
            *base,
            nx.alias("_hx"),
            ny.alias("_hy"),
            d.alias(out_col),
        )
    return cur.drop("_hx", "_hy")


def hilbert_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    key_col: str = "_hilbert",
) -> DataFrame:
    """Cluster ``df`` on the 2-D Hilbert key of two numeric columns —
    :func:`zorder_layout`'s plan shape (one min/max scaling pass, one
    range exchange, per-partition sort) with the Hilbert transform as
    the key: each written file covers a CONTIGUOUS curve segment, which
    on the grid is a compact blob rather than Z's split rectangles —
    measurably tighter per-file min/max spans on both columns (pinned
    in test_layout.py)."""
    if len(cols) != 2:
        raise ValueError("hilbert_layout is the 2-D transform: pass 2 cols")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        lo = float(row[f"_lo_{c}"] or 0.0)
        hi = float(row[f"_hi_{c}"] or 0.0)
        span = hi - lo
        if span <= 0:
            scaled.append(F.lit(0))
            continue
        cell = F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(top + 1)
        ).cast("long")
        scaled.append(F.least(F.greatest(cell, F.lit(0)), F.lit(top)))
    keyed = hilbert_key(df, scaled[0], scaled[1], bits, out_col=key_col)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(parts, F.col(key_col)).sortWithinPartitions(
        key_col
    )
