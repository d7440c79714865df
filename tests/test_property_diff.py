"""Property-based validator pinning: for ANY set of planted defects, the
diff drill-down names exactly the defective keys — no more, no fewer."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from rust_cdc_validator_spark.session import get_spark
        _spark = get_spark("hypothesis-diff", shuffle_partitions=4)
    return _spark


N_ROWS = 300
keys = st.integers(min_value=0, max_value=N_ROWS - 1)
defects = st.fixed_dictionaries(
    {
        "missing": st.sets(keys, max_size=5),
        "changed": st.sets(keys, max_size=5),
        "extra": st.sets(st.integers(min_value=N_ROWS, max_value=N_ROWS + 5), max_size=3),
    }
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(defects)
def test_drilldown_names_exactly_the_defects(d):
    from rust_cdc_validator_spark.operators.diff import diff_tables

    spark = _get_spark()
    changed = d["changed"] - d["missing"]  # a missing row can't also differ
    src = spark.range(N_ROWS).select(
        F.col("id").alias("pk"), (F.col("id") * 3).alias("v")
    )
    tgt = (
        src.filter(~F.col("pk").isin(list(d["missing"])) if d["missing"] else F.lit(True))
        .withColumn(
            "v",
            F.when(F.col("pk").isin(list(changed)) if changed else F.lit(False),
                   F.lit(-1)).otherwise(F.col("v")),
        )
    )
    if d["extra"]:
        tgt = tgt.unionByName(
            spark.createDataFrame([(k, int(k) * 3) for k in d["extra"]], "pk long, v long")
        )
    rep = diff_tables(src, tgt, ["pk"], chunk_size=50)
    expected_src_only = d["missing"] | changed
    expected_tgt_only = changed | d["extra"]
    if not expected_src_only and not expected_tgt_only:
        assert rep.is_match
        return
    assert not rep.is_match
    got_src = {r["pk"] for r in rep.rows_only_in_source.collect()} if rep.rows_only_in_source is not None else set()
    got_tgt = {r["pk"] for r in rep.rows_only_in_target.collect()} if rep.rows_only_in_target is not None else set()
    assert got_src == expected_src_only
    assert got_tgt == expected_tgt_only


def _old_design_verdict(src, tgt, spec, start_position):
    """Reference compare, the join-based design: per-side chunk relations
    (digest sum, row count) full-outer-joined on the chunk id."""
    from rust_cdc_validator_spark.operators.diff import row_digest

    lo, span, n_chunks = spec

    def chunked(df):
        chunk = F.greatest(F.lit(0), F.least(
            F.lit(n_chunks - 1),
            F.floor((F.col("pk").cast("double") - F.lit(lo)) / F.lit(span))))
        return df.select(
            chunk.cast("long").alias("c"), row_digest(df).alias("h")
        ).groupBy("c").agg(
            F.sum(F.conv(F.substring("h", 1, 14), 16, 10)
                  .cast("decimal(38,0)")).alias("d"),
            F.count(F.lit(1)).alias("n"),
        )

    s, t = chunked(src), chunked(tgt)
    counts = [x.agg(F.sum("n")).first()[0] or 0 for x in (s, t)]
    joined = s.filter(F.col("c") >= start_position).alias("s").join(
        t.filter(F.col("c") >= start_position).alias("t"), "c", "full_outer")
    bad = joined.filter(~(F.col("s.d").eqNullSafe(F.col("t.d"))
                          & F.col("s.n").eqNullSafe(F.col("t.n"))))
    return (*counts, joined.count(), sorted(r["c"] for r in bad.collect()))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(defects, st.integers(min_value=0, max_value=7))
def test_one_aggregate_compare_equals_join_design(d, start_position):
    """For any planted defects and start_position, the single
    union-aggregate yields the same (source_count, target_count,
    chunks_compared, mismatched_chunks) as the join-based design."""
    from rust_cdc_validator_spark.operators.diff import diff_tables

    spark = _get_spark()
    src = spark.range(N_ROWS).select(
        F.col("id").alias("pk"), (F.col("id") * 3).alias("v"))
    gone = list(d["missing"]) or [-1]
    changed = list(d["changed"]) or [-1]
    tgt = src.filter(~F.col("pk").isin(gone)).withColumn(
        "v", F.when(F.col("pk").isin(changed), -1).otherwise(F.col("v")))
    if d["extra"]:
        tgt = tgt.unionByName(spark.createDataFrame(
            [(k, k * 3) for k in d["extra"]], "pk long, v long"))
    rep = diff_tables(src, tgt, ["pk"], chunk_size=50,
                      start_position=start_position, drill_down=False)
    got = (rep.source_count, rep.target_count, rep.chunks_compared,
           rep.mismatched_chunks)
    assert got == _old_design_verdict(
        src, tgt, rep.details["chunk_spec"], start_position)


_cells = st.tuples(
    st.sampled_from([0.0, -0.0, float("nan"), None, 1.5]),
    st.sampled_from([None, 1, 2]),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_cells, max_size=10), st.lists(_cells, max_size=10))
def test_no_pk_counts_equal_except_all(src_rows, tgt_rows):
    """No-PK multisets with duplicates, NULLs, -0.0/0.0 and NaN: the grouped
    aggregate's per-side counts equal ``exceptAll(...).count()``."""
    from rust_cdc_validator_spark.operators.diff import diff_tables

    spark = _get_spark()
    src = spark.createDataFrame(src_rows, "x double, y int")
    tgt = spark.createDataFrame(tgt_rows, "x double, y int")
    rep = diff_tables(src, tgt, [])
    assert (rep.source_count, rep.target_count) == (len(src_rows), len(tgt_rows))
    assert rep.details["rows_only_in_source"] == src.exceptAll(tgt).count()
    assert rep.details["rows_only_in_target"] == tgt.exceptAll(src).count()
    assert rep.is_match == (
        src.exceptAll(tgt).count() == 0 == tgt.exceptAll(src).count()
    )
