from __future__ import annotations

from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.diff import compute_chunk_spec, diff_tables


def _base(spark, n=3500):
    return spark.range(n).select(
        F.col("id").alias("pk"),
        (F.col("id") * 7 % 100).alias("v"),
        F.concat(F.lit("row_"), F.col("id")).alias("s"),
    )


def test_identical_tables_match(spark):
    a, b = _base(spark), _base(spark)
    rep = diff_tables(a, b, ["pk"], chunk_size=1000)
    assert rep.is_match and rep.counts_match
    assert rep.chunks_compared == 4  # 3500 rows / 1000


def test_value_drift_flags_exact_chunk(spark):
    a = _base(spark)
    b = _base(spark).withColumn(
        "v", F.when(F.col("pk") == 1500, F.lit(-1)).otherwise(F.col("v"))
    )
    rep = diff_tables(a, b, ["pk"], chunk_size=1000)
    assert rep.counts_match
    assert rep.mismatched_chunks == [1]  # row 1500 lives in chunk 1
    src_only = {r["pk"] for r in rep.rows_only_in_source.collect()}
    tgt_only = {r["pk"] for r in rep.rows_only_in_target.collect()}
    assert src_only == tgt_only == {1500}


def test_missing_and_extra_rows(spark):
    a = _base(spark)
    missing = diff_tables(a, a.filter("pk <> 42"), ["pk"], chunk_size=1000)
    assert not missing.counts_match
    assert 0 in missing.mismatched_chunks
    extra = diff_tables(a.filter("pk <> 42"), a, ["pk"], chunk_size=1000)
    assert {r["pk"] for r in extra.rows_only_in_target.collect()} == {42}


def test_start_position_skips_early_defect(spark):
    a = _base(spark)
    b = _base(spark).withColumn(
        "v", F.when(F.col("pk") == 10, F.lit(-1)).otherwise(F.col("v"))
    )
    rep = diff_tables(a, b, ["pk"], chunk_size=1000, start_position=1, drill_down=False)
    assert rep.mismatched_chunks == []  # defect in chunk 0, skipped


def test_chunk_spec_reuse_and_drift_tolerance(spark):
    """A precomputed chunk spec (standing-pipeline path, SCALE.md
    known-delta #2) skips the spec pass and reproduces the same verdicts;
    a spec computed at snapshot T stays CORRECT at T+1 when the keyspace
    has grown — new out-of-range keys clamp into the last chunk, so a
    defect there still surfaces."""
    a = _base(spark)
    spec = compute_chunk_spec(a, ["pk"], chunk_size=1000)
    assert spec == diff_tables(a, a, ["pk"], chunk_size=1000).details["chunk_spec"]
    b = _base(spark).withColumn(
        "v", F.when(F.col("pk") == 1500, F.lit(-1)).otherwise(F.col("v"))
    )
    rep = diff_tables(a, b, ["pk"], chunk_size=1000, chunk_spec=spec)
    assert rep.mismatched_chunks == [1]
    assert rep.details["chunk_spec"] == spec

    # snapshot grew past the spec's max: defect in the clamped region
    a2 = _base(spark, 5000)
    b2 = a2.withColumn(
        "v", F.when(F.col("pk") == 4700, F.lit(-1)).otherwise(F.col("v"))
    )
    rep2 = diff_tables(a2, b2, ["pk"], chunk_size=1000, chunk_spec=spec)
    assert rep2.source_count == rep2.target_count == 5000
    assert rep2.mismatched_chunks == [spec[2] - 1]  # clamped into last chunk
    assert {r["pk"] for r in rep2.rows_only_in_source.collect()} == {4700}


def test_counts_derived_from_chunk_scan(spark):
    """Row counts come from the chunk relation, not separate count() jobs —
    a PK diff is two full scans total. Counts must still be exact."""
    a, b = _base(spark, 2345), _base(spark, 2345).filter("pk <> 7")
    rep = diff_tables(a, b, ["pk"], chunk_size=1000, drill_down=False)
    assert rep.source_count == 2345
    assert rep.target_count == 2344
    # empty side: counts are 0, not None
    empty = _base(spark).filter("pk < 0")
    rep0 = diff_tables(empty, empty, ["pk"], chunk_size=1000, drill_down=False)
    assert rep0.source_count == rep0.target_count == 0


def test_no_pk_full_row_hash(spark):
    a = _base(spark, 100).drop("pk")
    b = a.union(a.limit(1))  # one duplicated row in target
    rep = diff_tables(a, b, [], table="nopk")
    assert rep.details["rows_only_in_target"] == 1
    assert rep.details["rows_only_in_source"] == 0


def test_string_pk_hash_fallback(spark):
    # non-numeric PK: try_cast yields NULL, hash-order buckets kick in
    # (plain cast would throw under ANSI mode)
    a = _base(spark, 3000).select(
        F.concat(F.lit("key_"), F.col("pk")).alias("pk"), "v", "s"
    )
    b = a.withColumn("v", F.when(F.col("pk") == "key_77", -1).otherwise(F.col("v")))
    rep = diff_tables(a, b, ["pk"], chunk_size=1000)
    assert len(rep.mismatched_chunks) == 1
    assert {r["pk"] for r in rep.rows_only_in_source.collect()} == {"key_77"}


def test_missing_row_flags_only_its_chunk(spark):
    # PK-range chunks stay aligned: a missing EARLY row must flag exactly
    # one chunk, not shift-and-flag every later chunk
    a = _base(spark, 5000)
    rep = diff_tables(a, a.filter("pk <> 5"), ["pk"], chunk_size=1000, drill_down=False)
    assert rep.mismatched_chunks == [0]


def test_decimal_beyond_i64_mantissa_detected(spark):
    """FIXTURES.md §4 last defect: two decimals identical in their first
    18 digits, differing only beyond i64-mantissa precision. The reference
    truncates the i128 mantissa to i64 (postgres_row_struct.rs:43) and
    would compare them equal; our full-precision digest must flag them."""
    from decimal import Decimal
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("amount", T.DecimalType(38, 10)),
    ])
    base = Decimal("12345678901234567890123456.7890123456")
    tweaked = Decimal("12345678901234567890123456.7890123457")  # last digit
    a = spark.createDataFrame([(1, base), (2, Decimal("1.0"))], schema)
    b = spark.createDataFrame([(1, tweaked), (2, Decimal("1.0"))], schema)
    rep = diff_tables(a, b, ["pk"], chunk_size=10)
    assert not rep.is_match
    assert {r["pk"] for r in rep.rows_only_in_source.collect()} == {1}


def test_null_vs_empty_string_detected(spark):
    a = spark.createDataFrame([(1, None)], "pk int, v string")
    b = spark.createDataFrame([(1, "")], "pk int, v string")
    rep = diff_tables(a, b, ["pk"], chunk_size=10)
    assert rep.mismatched_chunks == [0]


def test_composite_pk_diff(spark):
    """Composite PKs: chunk order derives from the first key column only
    (consistent across both sides), while the drill-down anti-join uses the
    FULL key tuple — a defect on (2, 'b') must not implicate (2, 'a')."""
    rows = [(i, s, i * 10 + ord(s)) for i in range(50) for s in ("a", "b")]
    src = spark.createDataFrame(rows, "k1 long, k2 string, v long")
    tgt_rows = [
        (k1, k2, -1 if (k1, k2) == (2, "b") else v) for k1, k2, v in rows
    ]
    tgt = spark.createDataFrame(tgt_rows, "k1 long, k2 string, v long")
    rep = diff_tables(src, tgt, ["k1", "k2"], chunk_size=20)
    assert not rep.is_match
    src_only = {(r["k1"], r["k2"]) for r in rep.rows_only_in_source.collect()}
    tgt_only = {(r["k1"], r["k2"]) for r in rep.rows_only_in_target.collect()}
    assert src_only == {(2, "b")} and tgt_only == {(2, "b")}


def test_user_columns_named_like_internal_columns_survive(spark):
    """The diff's own columns (row hash, chunk id, side tag) must not
    shadow user columns of the same name: a table may carry ``_row_hash``,
    ``_chunk`` or ``_side``, and the drill-down must return them intact."""
    a = spark.range(300).select(
        F.col("id").alias("pk"),
        (F.col("id") % 5).alias("_row_hash"),
        (F.col("id") * 2).alias("_chunk"),
        F.concat(F.lit("s"), F.col("id")).alias("_side"),
    )
    b = a.withColumn(
        "_chunk", F.when(F.col("pk") == 123, -1).otherwise(F.col("_chunk"))
    )
    rep = diff_tables(a, b, ["pk"], chunk_size=100)
    assert rep.counts_match and rep.mismatched_chunks == [1]
    assert rep.rows_only_in_source.columns == a.columns
    assert rep.rows_only_in_target.columns == a.columns
    assert [tuple(r) for r in rep.rows_only_in_source.collect()] == [(123, 3, 246, "s123")]
    assert [tuple(r) for r in rep.rows_only_in_target.collect()] == [(123, 3, -1, "s123")]

    # a defect in the user's own _row_hash column is still a defect
    c = a.withColumn(
        "_row_hash", F.when(F.col("pk") == 5, 99).otherwise(F.col("_row_hash"))
    )
    assert diff_tables(a, c, ["pk"], chunk_size=100).mismatched_chunks == [0]

    nopk = diff_tables(a.drop("pk"), b.drop("pk"), [])
    assert nopk.details["rows_only_in_source"] == 1
    assert nopk.details["rows_only_in_target"] == 1
    assert not nopk.is_match  # equal counts, different rows
    assert nopk.rows_only_in_source.columns == ["_row_hash", "_chunk", "_side"]
    # Spark resolves names case-insensitively: _SIDE collides with _side
    upper = [df.drop("pk").withColumnRenamed("_side", "_SIDE") for df in (a, b)]
    nopk = diff_tables(*upper, [])
    assert nopk.details["rows_only_in_source"] == 1
    assert nopk.details["rows_only_in_target"] == 1


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "diff job budget")
    try:
        result = fn()
    finally:
        sc.setJobGroup("", "")
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_diff_job_budget(spark):
    """Job budget of the compare, pinned on small tables.

    A defect-free PK diff with a precomputed ``chunk_spec`` is ONE action
    (a union-aggregate over both tables); AQE runs its two shuffle stages
    and the result stage as 3 jobs. The previous design (two persisted
    chunk relations, two count actions, a full-outer-join collect and a
    count) took 10. A no-PK diff is one grouped aggregate: 4 jobs, down
    from 13 (two counts plus two ``exceptAll().count()``)."""
    a = _base(spark, 2000)
    spec = compute_chunk_spec(a, ["pk"], chunk_size=500)
    rep, jobs = _jobs_of(
        spark, "diff-budget-pk",
        lambda: diff_tables(a, _base(spark, 2000), ["pk"], chunk_size=500,
                            chunk_spec=spec),
    )
    assert rep.is_match and rep.chunks_compared == 4
    assert jobs <= 3, jobs

    rows = a.drop("pk")
    rep, jobs = _jobs_of(
        spark, "diff-budget-nopk",
        lambda: diff_tables(rows, rows.union(rows.limit(1)), []),
    )
    assert rep.details["rows_only_in_target"] == 1
    assert jobs <= 4, jobs
