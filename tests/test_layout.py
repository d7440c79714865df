"""Z-order layout (operators/layout.py): key correctness against a
bit-twiddling reference, and the actual PRUNING payoff — per-file value
spans shrink on every clustered column vs a single-column sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.layout import zorder_layout, zorder_value


def _ref_z(vals, bits):
    out = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * n + j)
    return out


def test_zorder_value_matches_reference(spark):
    rows = [(a, b) for a in [0, 1, 5, 255, 4095] for b in [0, 3, 17, 4095]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_value([F.col("a"), F.col("b")], bits=12).alias("z")
        ).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _ref_z([a, b], 12), (a, b)
    # locality sanity: neighbors in both dims stay close in key space
    assert abs(_ref_z([5, 3], 12) - _ref_z([4, 3], 12)) <= 4


def test_zorder_value_validates_inputs(spark):
    with pytest.raises(ValueError, match="at least one"):
        zorder_value([], 8)
    with pytest.raises(ValueError, match="64-bit"):
        zorder_value([F.col("a"), F.col("b")], bits=32)


def test_zorder_layout_shrinks_per_file_spans(spark, tmp_path):
    """The point of the operator: after zorder_layout on (x, y), EVERY
    file covers a compact rectangle — per-file spans shrink on BOTH
    columns, where a single-column sort leaves the other column's span at
    ~full range per file. Measured over the written files themselves (the
    same min/max the parquet footers carry for pruning)."""
    import itertools

    rows = [(i, x, y) for i, (x, y) in enumerate(
        itertools.product(range(64), range(64))
    )]
    df = spark.createDataFrame(rows, "id long, x long, y long").repartition(8)

    zpath = str(tmp_path / "zorder")
    zorder_layout(df, ["x", "y"], bits=6, num_files=16).drop("_z").write.parquet(zpath)
    spath = str(tmp_path / "singlesort")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    def spans(path, col):
        per = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("span"))
            .collect()
        )
        return sum(r["span"] for r in per) / len(per)

    # single sort: near-perfect on x, near-total span on y
    assert spans(spath, "x") < 8
    assert spans(spath, "y") > 48
    # z-order: compact on BOTH dimensions
    assert spans(zpath, "x") < 32
    assert spans(zpath, "y") < 32


def test_zorder_layout_constant_column_degrades_gracefully(spark):
    df = spark.createDataFrame([(i, 7, i) for i in range(100)], "id long, c long, v long")
    out = zorder_layout(df, ["c", "v"], bits=8, num_files=4)
    assert out.count() == 100
    # constant column contributes zero bits; ordering follows v
    rows = out.select("v", "_z").collect()
    assert sorted(rows, key=lambda r: r["_z"]) == sorted(rows, key=lambda r: (r["_z"], r["v"]))


# ------------------------------------------------- prefix sum / compaction


def test_prefix_sum_exact_and_partition_invariant(spark):
    from rust_cdc_validator_spark.operators.layout import prefix_sum

    df = spark.range(500).select(
        F.col("id"), ((F.col("id") * 37) % 11 + 1).alias("sz")
    )
    for parts in (1, 7):
        out = (
            prefix_sum(df.repartition(parts), ["id"], "sz", num_ranges=5)
            .orderBy("id")
            .collect()
        )
        expected = 0
        for r in out:
            assert r["cum_before"] == expected
            expected += r["sz"]


def test_compaction_bins_monotone_and_sized(spark):
    from rust_cdc_validator_spark.operators.layout import plan_compaction

    df = spark.range(200).select(F.col("id"), F.lit(10).alias("sz"))
    plan = plan_compaction(df, "sz", ["id"], 100).orderBy("id").collect()
    bins = [r["bin"] for r in plan]
    assert bins == sorted(bins)  # streaming order never revisits a bin
    from collections import Counter

    c = Counter(bins)
    assert all(v == 10 for v in c.values())  # 10 x 10 bytes per 100-byte bin


def test_compaction_oversized_input_spills(spark):
    from rust_cdc_validator_spark.operators.layout import plan_compaction

    rows = [(1, 10), (2, 500), (3, 10)]  # row 2 alone exceeds the target
    df = spark.createDataFrame(rows, "id long, sz long")
    got = {
        r["id"]: r["bin"]
        for r in plan_compaction(df, "sz", ["id"], 100).collect()
    }
    assert got[1] == 0 and got[2] == 0  # oversized row STARTS in-place
    assert got[3] == 5  # and the next row lands past the spillover


def test_compaction_validates_target(spark):
    from rust_cdc_validator_spark.operators.layout import plan_compaction

    df = spark.createDataFrame([(1, 1)], "id long, sz long")
    with pytest.raises(ValueError, match="target_bytes"):
        plan_compaction(df, "sz", ["id"], 0)


def test_prefix_sums_multi_column_matches_single(spark):
    from rust_cdc_validator_spark.operators.layout import prefix_sum, prefix_sums

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 5).alias("b"),
    )
    multi = prefix_sums(df, ["id"], {"a": "ca", "b": "cb"}).orderBy("id")
    single_a = prefix_sum(df, ["id"], "a", "ca").orderBy("id")
    got = [(r["id"], r["ca"], r["cb"]) for r in multi.collect()]
    want_a = {r["id"]: r["ca"] for r in single_a.collect()}
    run_a = run_b = 0
    for i, (rid, ca, cb) in enumerate(got):
        assert rid == i and ca == run_a == want_a[rid] and cb == run_b
        run_a += i % 7
        run_b += i % 5


def test_prefix_scans_read_one_materialized_range_exchange(spark):
    """The partition-local windows and the per-partition offsets must
    read ONE evaluation of the range exchange: a second evaluation may
    sample different boundaries and tag rows with different ``_pid``
    values, making the running sums run-dependent. So the ranged frame
    is materialized before either reads it, and the returned plan holds
    no range repartition of its own."""
    from rust_cdc_validator_spark.operators.layout import prefix_max, prefix_sums

    df = spark.range(300).select("id", (F.col("id") % 7).alias("v"))
    for out in (
        prefix_sums(df, ["id"], {"v": "cv"}, num_ranges=4),
        prefix_max(df, ["id"], "v", num_ranges=4),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" not in plan, plan


def _py_xy2d(n: int, x: int, y: int) -> int:
    """Classic Hilbert xy->d reference walk (MSB first)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_a_space_filling_curve(spark):
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.operators.layout import hilbert_key

    bits, n = 4, 16
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["_hilbert"]
        for r in hilbert_key(df, F.col("x"), F.col("y"), bits).collect()
    }
    for (x, y), d in got.items():
        assert d == _py_xy2d(n, x, y), (x, y)
    # bijection onto 0..n^2-1, and consecutive keys are GRID NEIGHBORS
    # (the locality property Z-order lacks at power-of-two boundaries)
    by_d = {d: xy for xy, d in got.items()}
    assert sorted(by_d) == list(range(n * n))
    for d in range(1, n * n):
        (x0, y0), (x1, y1) = by_d[d - 1], by_d[d]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, d


def test_hilbert_key_deep_bits_no_expression_blowup(spark):
    import time

    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.operators.layout import hilbert_key

    # the nested-Column form took minutes at bits=8 (3^bits tree); the
    # projected form must analyze + run full-depth quickly
    df = spark.createDataFrame(
        [(i, (i * 37) % 65536, (i * 101) % 65536) for i in range(100)],
        "id long, x long, y long",
    )
    t0 = time.time()
    rows = hilbert_key(df, F.col("x"), F.col("y"), bits=16).collect()
    assert time.time() - t0 < 60
    assert len(rows) == 100
    assert len({r["_hilbert"] for r in rows}) == 100
    with pytest.raises(ValueError, match="bits"):
        hilbert_key(df, F.col("x"), F.col("y"), bits=32)


def test_hilbert_layout_tighter_file_spans_than_zorder(spark):
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.operators.layout import (
        hilbert_layout,
        zorder_layout,
    )

    rows = [((i * 7919) % 1024, (i * 104729) % 1024) for i in range(4096)]
    df = spark.createDataFrame(rows, "a long, b long")

    def mean_span(laid, key):
        import statistics

        parts = (
            laid.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(
                (F.max("a") - F.min("a")).alias("sa"),
                (F.max("b") - F.min("b")).alias("sb"),
            )
            .collect()
        )
        return statistics.mean((r["sa"] + r["sb"]) / 2 for r in parts)

    hs = mean_span(hilbert_layout(df, ["a", "b"], bits=10, num_files=16), "_hilbert")
    zs = mean_span(zorder_layout(df, ["a", "b"], bits=10, num_files=16), "_z")
    raw = mean_span(df.repartition(16), None)
    # both clustered layouts beat random placement by a wide margin;
    # hilbert's contiguous curve segments are at least as tight as Z
    assert hs < raw / 2 and zs < raw / 2
    assert hs <= zs * 1.10
    with pytest.raises(ValueError, match="2-D"):
        hilbert_layout(df, ["a"], bits=10)
