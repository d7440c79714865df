from __future__ import annotations

import os

import pytest

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T

from rust_cdc_validator_spark.streaming.windows import (
    running_totals_stateful,
    windowed_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_events(path, rows):
    import datetime as dt

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    pq.write_table(
        pa.table(
            {
                "ts": [ts(*r[0]) for r in rows],
                "user_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
                "value": [r[3] for r in rows],
            }
        ),
        path,
    )


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    _write_events(
        str(src / "a.parquet"),
        [((0, 10), 1, "click", 1.0), ((0, 50), 2, "click", 1.0),
         ((1, 5), 1, "view", 1.0), ((1, 30), 3, "click", 1.0)],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows == {(0, "click"): 2, (1, "view"): 1, (1, "click"): 1}


def test_dedup_stream_across_batches(spark, tmp_path):
    from rust_cdc_validator_spark.streaming.windows import dedup_stream

    src = tmp_path / "events3"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()),
         T.StructField("event_id", T.LongType()),
         T.StructField("v", T.DoubleType())]
    )
    import datetime as dt
    import pyarrow as pa_, pyarrow.parquet as pq_

    def w(name, rows):
        pq_.write_table(
            pa_.table({"ts": [dt.datetime(2024, 1, 1, 0, m) for m, _, _ in rows],
                       "event_id": [e for _, e, _ in rows],
                       "v": [v for _, _, v in rows]}), str(src / name))

    w("a.parquet", [(1, 10, 1.0), (2, 11, 2.0), (3, 10, 99.0)])  # dup in batch
    w("b.parquet", [(4, 10, 99.0), (5, 12, 3.0)])               # dup across batch
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = (dedup_stream(stream, "event_id", "ts").writeStream
         .format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, count(*) c FROM dedup_out GROUP BY 1").collect()
    assert {r["event_id"]: r["c"] for r in rows} == {10: 1, 11: 1, 12: 1}


def test_running_totals_stateful_across_batches(spark, tmp_path):
    src = tmp_path / "events2"
    src.mkdir()
    _write_events(str(src / "a.parquet"),
                  [((0, 1), 1, "x", 10.0), ((0, 2), 1, "x", 5.0), ((0, 3), 2, "x", 1.0)])
    _write_events(str(src / "b.parquet"),
                  [((0, 4), 1, "x", 2.5), ((0, 5), 2, "x", 4.0)])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force 2 micro-batches
        .parquet(str(src))
    )
    out = running_totals_stateful(stream)
    q = (
        out.writeStream.format("memory").queryName("running")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # last update per user reflects accumulated state across batches
    rows = spark.sql(
        "SELECT user_id, max(total_value) AS t, max(n_events) AS n "
        "FROM running GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["t"], r["n"]) for r in rows}
    assert got[1] == (17.5, 3)
    assert got[2] == (5.0, 2)


def test_sessionize_stateful_closes_on_gap_across_batches(spark, tmp_path):
    """Open sessions survive micro-batch boundaries as explicit state; a
    gap observed in a later batch closes and emits the earlier session."""
    from rust_cdc_validator_spark.streaming.windows import sessionize_stateful

    src = tmp_path / "sess"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()),
         T.StructField("ts_us", T.LongType())]
    )

    def w(name, rows):
        pq.write_table(
            pa.table({"user_id": [u for u, _ in rows],
                      "ts_us": [t for _, t in rows]}), str(src / name))

    # Two SEPARATE availableNow drains against one checkpoint: file-source
    # discovery order under maxFilesPerTrigger is not contractual (the
    # round-2 flake: when b.parquet happened to be listed first, user 1's
    # events arrived out of order and no session ever closed). Writing the
    # second file only after the first drain finishes pins batch order
    # deterministically; the checkpoint carries both the processed-file log
    # and the open-session state across the restart.
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    out_schema = T.StructType(
        [T.StructField("user_id", T.LongType()),
         T.StructField("session_start_us", T.LongType()),
         T.StructField("session_end_us", T.LongType()),
         T.StructField("n_events", T.LongType())]
    )

    def drain():
        q = (sessionize_stateful(stream, gap_us=1000).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    def emitted():
        return [tuple(r) for r in spark.read.schema(out_schema).parquet(out)
                .select("user_id", "session_start_us", "session_end_us",
                        "n_events").collect()]

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    # Batch 1: user 1 at 0,60 (one open session); user 2 at 0.
    w("a.parquet", [(1, 0), (1, 60), (2, 0)])
    drain()
    assert emitted() == []  # all sessions still open
    # Batch 2: user 1 at 5000 (gap > 1000 → closes [0,60] n=2);
    # user 2 at 500 (within gap → still open, nothing emitted).
    w("b.parquet", [(1, 5000), (2, 500)])
    drain()
    assert emitted() == [(1, 0, 60, 2)]


def test_distinct_count_stateful_state_equals_batch_sketch(spark, tmp_path):
    """Streaming HLL state must be BIT-IDENTICAL to a batch sketch of the
    union of all batches (the exact-merge contract carried into
    streaming), and the emitted estimate must match hll_estimate."""
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )
    from rust_cdc_validator_spark.streaming.windows import (
        distinct_count_stateful,
    )

    src = tmp_path / "ev_hll"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("seg", T.StringType()),
         T.StructField("uid", T.LongType())]
    )
    import pyarrow as pa_, pyarrow.parquet as pq_

    def w(name, rows):
        pq_.write_table(
            pa_.table({"seg": [s for s, _ in rows],
                       "uid": [u for _, u in rows]}), str(src / name))

    # batch 1: seg a users 0..299, seg b users 0..49
    w("a.parquet", [("a", i) for i in range(300)] + [("b", i) for i in range(50)])
    # batch 2: overlaps a on [200, 400), new b users
    w("b.parquet", [("a", i) for i in range(200, 400)] + [("b", i) for i in range(50, 80)])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = (distinct_count_stateful(stream, "seg", "uid").writeStream
         .format("memory").queryName("hll_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT key, max(est_distinct) est FROM hll_out GROUP BY key").collect()
    got = {r["key"]: r["est"] for r in out}
    # batch-side truth: sketch the union with the SAME arithmetic
    union = spark.createDataFrame(
        [("a", i) for i in range(400)] + [("b", i) for i in range(80)],
        "seg string, uid long",
    )
    want = {
        r["seg"]: r["e"]
        for r in hll_sketch(union, ["seg"], "uid", p=10)
        .select("seg", hll_estimate(F.col("registers"), p=10).alias("e"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # sanity: estimates near truth (400 and 80)
    assert abs(got["a"] - 400) / 400 < 0.15
    assert abs(got["b"] - 80) / 80 < 0.15


def test_hll_prereduce_input_is_register_sized(spark):
    """VERDICT r9 #1: the stateful operator's input relation must be
    register-sized — ≤ m rows per key per partition, not the raw event
    stream — and partial maxima must equal the global per-(key, idx)
    max (associative/idempotent fold)."""
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.streaming.windows import (
        _HLL_P,
        _hll_prereduce,
    )

    m = 1 << _HLL_P
    df = (
        spark.range(50_000)
        .select(
            F.concat(F.lit("k"), (F.col("id") % 2).cast("string")).alias("seg"),
            (F.col("id") % 9_000).alias("uid"),
        )
        .repartition(4)
    )
    red = _hll_prereduce(df, "seg", "uid")
    n = red.count()
    assert n <= 4 * 2 * m  # ≤ m rows per key per partition
    assert n < 50_000 / 3  # and a real reduction, not a passthrough
    # partial maxima re-max to the true global per-(key, idx) max
    glob = red.groupBy("_k", "_idx").agg(F.max("_rho").alias("_rho"))
    truth = _hll_prereduce(df.coalesce(1), "seg", "uid")
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(glob) == key(truth)


def _make_newer(path, than):
    """Give ``path`` an mtime one second after ``than``'s. The file source
    reads files in mtime order (``maxFilesPerTrigger=1``: one per batch);
    two files written back to back often share a millisecond mtime, and
    the tie then falls to listing order."""
    t = os.stat(than).st_mtime + 1
    os.utime(path, (t, t))


def test_concurrency_gauge_equals_batch_on_ordered_feed(spark, tmp_path):
    """Streaming gauge (r10) on a time-ordered boundary feed split
    across micro-batches must equal the batch sweep-line operator:
    same peak, same first-peak instant — and after the FIRST batch,
    `current` must equal the number of intervals open at the split."""
    from rust_cdc_validator_spark.operators.sweepline import peak_concurrency
    from rust_cdc_validator_spark.streaming.windows import (
        concurrency_gauge_stateful,
    )

    import random

    rng = random.Random(13)
    ivs = []
    t = 0
    for _ in range(200):
        t += rng.randrange(0, 5)
        ivs.append((t, t + rng.randrange(1, 30)))
    bounds = sorted(
        [(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs]
    )  # global time order; ties: any intra-batch order is fine (fold sorts)
    mid = len(bounds) // 2
    # split on an instant boundary so no instant spans the two batches
    while mid < len(bounds) and bounds[mid][0] == bounds[mid - 1][0]:
        mid += 1
    split_t = bounds[mid][0]

    src = tmp_path / "gauge"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("g", T.StringType()),
         T.StructField("ts", T.LongType()),
         T.StructField("delta", T.LongType())]
    )

    def w(name, rows):
        pq.write_table(
            pa.table({"g": ["x"] * len(rows),
                      "ts": [t for t, _ in rows],
                      "delta": [d for _, d in rows]}), str(src / name))

    w("a.parquet", bounds[:mid])
    w("b.parquet", bounds[mid:])
    _make_newer(src / "b.parquet", src / "a.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = (concurrency_gauge_stateful(stream, "g").writeStream
         .format("memory").queryName("gauge_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    per_batch = spark.sql("SELECT * FROM gauge_out").collect()
    assert len(per_batch) == 2  # one update row per micro-batch
    # the final batch's row is the one with every interval closed
    # (current is exact on an ordered feed); the other row is batch 1
    final = next(r for r in per_batch if r["current"] == 0)
    first = next(r for r in per_batch if r["current"] != 0)

    batch = spark.createDataFrame([("x", a, b) for a, b in ivs],
                                  "g string, s long, e long")
    want = peak_concurrency(batch, ["g"], "s", "e").first()
    assert final["peak"] == want["peak_concurrency"]
    assert final["first_peak"] == want["first_peak"]
    # live gauge after batch 1: intervals open just before the split
    open_at = sum(1 for a, b in ivs if a < split_t <= b)
    assert first["current"] == open_at and open_at > 0


def test_concurrency_gauge_current_exact_under_disorder(spark, tmp_path):
    """Under cross-batch DISORDER peak is a documented approximation,
    but `current` must stay exact — every boundary adjusts the sum
    exactly once, in any order."""
    from rust_cdc_validator_spark.streaming.windows import (
        concurrency_gauge_stateful,
    )

    src = tmp_path / "gauge3"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("g", T.StringType()),
         T.StructField("ts", T.LongType()),
         T.StructField("delta", T.LongType())]
    )
    # batch 1: opens at 50 and 60, close at 70 — 1 open at high-water
    pq.write_table(pa.table({"g": ["x"] * 3, "ts": [50, 60, 70],
                             "delta": [1, 1, -1]}), str(src / "a.parquet"))
    # batch 2: a LATE pair that predates batch 1 entirely
    pq.write_table(pa.table({"g": ["x"] * 2, "ts": [0, 10],
                             "delta": [1, -1]}), str(src / "b.parquet"))
    _make_newer(src / "b.parquet", src / "a.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = (concurrency_gauge_stateful(stream, "g").writeStream
         .format("memory").queryName("gauge3_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted(spark.sql("SELECT * FROM gauge3_out").collect(),
                  key=lambda r: r["current"], reverse=True)
    assert rows[0]["current"] == 1  # after batch 1
    assert rows[1]["current"] == 1  # late pair nets 0: still exactly 1 open


def test_interval_boundaries_and_half_open_semantics(spark):
    """interval_boundaries explodes [s, e) rows (+1/-1, empty and NULL
    intervals dropped); at equal instants the -1 applies first, so
    touching intervals never overlap."""
    from rust_cdc_validator_spark.streaming.windows import interval_boundaries

    df = spark.createDataFrame(
        [("g", 0, 10), ("g", 10, 20), ("g", 5, 5), ("g", None, 9)],
        "g string, s long, e long",
    )
    rows = sorted(
        (r["ts"], r["delta"])
        for r in interval_boundaries(df, "g", "s", "e").collect()
    )
    assert rows == [(0, 1), (10, -1), (10, 1), (20, -1)]


def test_boundary_prereduce_input_is_cell_sized(spark):
    """The stateful operator's input must be cells (distinct boundary
    instants per key per partition), not raw boundary rows, and partial
    sums must equal the global net delta per (key, instant)."""
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.streaming.windows import (
        _boundary_prereduce,
        interval_boundaries,
    )

    # 40k intervals over only 50 distinct instants -> 80k boundary rows
    # collapse to <= 4 partitions * 2 keys * 50 instants
    df = (
        spark.range(40_000)
        .select(
            F.concat(F.lit("k"), (F.col("id") % 2).cast("string")).alias("g"),
            (F.col("id") % 25).alias("s"),
            (F.col("id") % 25 + 25).alias("e"),
        )
        .repartition(4)
    )
    bounds = interval_boundaries(df, "g", "s", "e")
    cells = _boundary_prereduce(bounds, "g", "ts", "delta")
    n = cells.count()
    assert n <= 4 * 2 * 50
    # partial sums fold to the exact global net delta
    glob = cells.groupBy("_k", "_t").agg(F.sum("_d").alias("d"))
    rows = {(r["_k"], r["_t"]): r["d"] for r in glob.collect()}
    for k in ("k0", "k1"):
        for t in range(25):
            assert rows[(k, t)] == 800
            assert rows[(k, t + 25)] == -800


def test_stateful_prereduces_keep_null_key_group(spark):
    """Code-review r10: pandas groupby drops None keys by default
    (dropna) — the pre-reduce helpers must keep the NULL-key group the
    raw stream.groupBy used to emit."""
    from pyspark.sql import functions as F

    from rust_cdc_validator_spark.streaming.windows import (
        _boundary_prereduce,
        _hll_prereduce,
    )

    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 1)], "seg string, uid int"
    )
    cells = _hll_prereduce(df, "seg", "uid")
    ks = {r["_k"] for r in cells.select("_k").distinct().collect()}
    assert ks == {None, "a"}

    bdf = spark.createDataFrame(
        [(None, 5, 1), (None, 9, -1), ("a", 5, 1)],
        "g string, ts long, delta long",
    )
    bcells = _boundary_prereduce(bdf, "g", "ts", "delta")
    bks = {r["_k"] for r in bcells.select("_k").distinct().collect()}
    assert bks == {None, "a"}


def test_concurrency_gauge_exact_fixes_disordered_peak(spark, tmp_path):
    """r11 (VERDICT #3): plant cross-batch disorder where the O(1)-state
    gauge's peak is provably WRONG, and pin that concurrency_gauge_exact
    — which buffers cells until the watermark closes their instant and
    folds in timestamp order — matches the batch sweep-line operator on
    the same data. True timeline: +1@1000, +1@1010, -1@1020, -1@1030
    (intervals [1000,1020) and [1010,1030)): peak 2, first at t=1010.
    The feed delivers the INNER pair first and the outer pair late.
    (Timestamps sit away from epoch 0: the engine drops rows AT the
    watermark, and the initial watermark is 0.)"""
    from rust_cdc_validator_spark.operators.sweepline import peak_concurrency
    from rust_cdc_validator_spark.streaming.windows import (
        concurrency_gauge_exact,
        concurrency_gauge_stateful,
    )

    schema = T.StructType(
        [T.StructField("g", T.StringType()),
         T.StructField("ts", T.LongType()),
         T.StructField("delta", T.LongType())]
    )

    def feed(d):
        d.mkdir()
        pq.write_table(pa.table({"g": ["x"] * 2, "ts": [1010, 1020],
                                 "delta": [1, -1]}), str(d / "a.parquet"))
        # late outer pair, predating and postdating batch 1 (20 s of
        # disorder, inside the 60 s watermark)
        pq.write_table(pa.table({"g": ["x"] * 2, "ts": [1000, 1030],
                                 "delta": [1, -1]}), str(d / "b.parquet"))
        # horizon-advancing sentinel: a net-zero cell far in the future
        # drives the watermark past every real instant
        pq.write_table(pa.table({"g": ["x"] * 2, "ts": [5000, 5000],
                                 "delta": [1, -1]}), str(d / "c.parquet"))
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(str(d)))

    batch = spark.createDataFrame(
        [("x", 1000, 1020), ("x", 1010, 1030)], "g string, s long, e long"
    )
    want = peak_concurrency(batch, ["g"], "s", "e").first()
    assert want["peak_concurrency"] == 2 and want["first_peak"] == 1010

    # the O(1) gauge folds each batch against three longs: batch 1 peaks
    # at 1, the late outer pair nets through an empty gauge — peak stays
    # 1, missing the true 2 (the documented approximation)
    q = (concurrency_gauge_stateful(feed(tmp_path / "approx"), "g")
         .writeStream.format("memory").queryName("gauge_approx")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    approx = spark.sql(
        "SELECT max(peak) AS p FROM gauge_approx"
    ).first()["p"]
    assert approx == 1  # wrong vs the true 2 — the planted failure

    # the exact gauge: watermark 60s covers the 30s disorder; the
    # sentinel closes the horizon; fold order is global time order
    q = (concurrency_gauge_exact(feed(tmp_path / "exact"), "g",
                                 watermark="60 seconds")
         .writeStream.format("memory").queryName("gauge_exact")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM gauge_exact").collect()
    final = max(rows, key=lambda r: r["watermark_ts"])
    assert final["peak"] == want["peak_concurrency"]
    assert final["first_peak"] == want["first_peak"]
    assert final["current"] == 0  # all real intervals closed


def test_concurrency_gauge_exact_equals_batch_on_ordered_feed(spark, tmp_path):
    """The exact gauge must also reproduce the batch sweep-line on the
    ordered two-batch feed the r10 gauge is pinned on (same scenario as
    test_concurrency_gauge_equals_batch_on_ordered_feed) — event-time
    exactness is a superset of arrival-order exactness."""
    from rust_cdc_validator_spark.operators.sweepline import peak_concurrency
    from rust_cdc_validator_spark.streaming.windows import (
        concurrency_gauge_exact,
    )

    import random

    rng = random.Random(13)
    ivs = []
    t = 0
    for _ in range(200):
        t += rng.randrange(0, 5)
        ivs.append((t, t + rng.randrange(1, 30)))
    bounds = sorted([(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs])
    mid = len(bounds) // 2
    while mid < len(bounds) and bounds[mid][0] == bounds[mid - 1][0]:
        mid += 1
    horizon = bounds[-1][0] + 1000

    src = tmp_path / "gauge_exact_ordered"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("g", T.StringType()),
         T.StructField("ts", T.LongType()),
         T.StructField("delta", T.LongType())]
    )

    def w(name, rows):
        pq.write_table(
            pa.table({"g": ["x"] * len(rows),
                      "ts": [t for t, _ in rows],
                      "delta": [d for _, d in rows]}), str(src / name))

    w("a.parquet", bounds[:mid])
    w("b.parquet", bounds[mid:])
    w("c.parquet", [(horizon, 1), (horizon, -1)])  # horizon sentinel
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = (concurrency_gauge_exact(stream, "g", watermark="0 seconds")
         .writeStream.format("memory").queryName("gauge_exact_ord")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM gauge_exact_ord").collect()
    final = max(rows, key=lambda r: r["watermark_ts"])

    batch = spark.createDataFrame([("x", a, b) for a, b in ivs],
                                  "g string, s long, e long")
    want = peak_concurrency(batch, ["g"], "s", "e").first()
    assert final["peak"] == want["peak_concurrency"]
    assert final["first_peak"] == want["first_peak"]
    assert final["current"] == 0


def test_topk_stateful_exact_when_capacity_covers(spark, tmp_path):
    """With capacity >= distinct items SpaceSaving degenerates to exact
    counting: after both batches the per-key top-k IS the batch top-k,
    errors all zero."""
    from rust_cdc_validator_spark.streaming.windows import topk_stateful

    src = tmp_path / "ev"
    src.mkdir()
    _write_events(
        str(src / "b1.parquet"),
        [((0, 1), 1, "click", 1.0), ((0, 2), 1, "click", 1.0),
         ((0, 3), 1, "view", 1.0), ((0, 4), 2, "buy", 1.0)],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = (
        topk_stateful(stream, "user_id", "event_type", k=3, capacity=16)
        .writeStream.format("memory").queryName("topk1")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    _write_events(
        str(src / "b2.parquet"),
        [((1, 1), 1, "view", 1.0), ((1, 2), 1, "view", 1.0),
         ((1, 3), 1, "view", 1.0), ((1, 4), 2, "buy", 1.0)],
    )
    q2 = (
        topk_stateful(stream, "user_id", "event_type", k=3, capacity=16)
        .writeStream.format("memory").queryName("topk2")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    rows = {
        (r["key"], r["rank"]): (r["item"], r["est_count"], r["max_err"])
        for r in spark.sql("SELECT * FROM topk2 ORDER BY key, rank").collect()
    }
    # user 1 totals: view 4, click 2; user 2: buy 2
    assert rows[("1", 1)] == ("view", 4, 0)
    assert rows[("1", 2)] == ("click", 2, 0)
    assert rows[("2", 1)] == ("buy", 2, 0)


def test_topk_stateful_bounds_under_eviction(spark, tmp_path):
    """capacity 2 with 4 distinct items: the heavy hitter survives with
    SpaceSaving bounds (true <= est, est - err <= true)."""
    from rust_cdc_validator_spark.streaming.windows import topk_stateful

    src = tmp_path / "ev"
    src.mkdir()
    # batch 1: heavy x5, a, b  |  batch 2: heavy x3, c
    _write_events(
        str(src / "b1.parquet"),
        [((0, i), 1, "heavy", 1.0) for i in range(5)]
        + [((0, 20), 1, "a", 1.0), ((0, 21), 1, "b", 1.0)],
    )
    _write_events(
        str(src / "b2.parquet"),
        [((1, i), 1, "heavy", 1.0) for i in range(3)]
        + [((1, 20), 1, "c", 1.0)],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = (
        topk_stateful(stream, "user_id", "event_type", k=2, capacity=2)
        .writeStream.format("memory").queryName("topk_ev")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    last = {
        r["item"]: (r["est_count"], r["max_err"])
        for r in spark.sql(
            "SELECT * FROM topk_ev WHERE key = '1' ORDER BY rank"
        ).collect()
    }
    est, err = last["heavy"]
    assert est >= 8 and est - err <= 8  # true count is 8
    # every reported estimate dominates its possible true count
    for item, (e, x) in last.items():
        assert e >= e - x >= 0


def test_topk_validation_and_prereduce_shape(spark):
    import pandas as pd

    from rust_cdc_validator_spark.streaming.windows import (
        _count_prereduce,
        topk_stateful,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a")], "user_id long, item string"
    )
    with pytest.raises(ValueError, match="k must"):
        topk_stateful(df, "user_id", "item", k=0)
    with pytest.raises(ValueError, match="capacity"):
        topk_stateful(df, "user_id", "item", k=5, capacity=2)
    reduced = _count_prereduce(
        df.repartition(1), "user_id", "item"
    ).collect()
    got = {(r["_k"], r["_i"]): r["_c"] for r in reduced}
    assert got == {("1", "a"): 2, ("1", "b"): 1, ("2", "a"): 1}
    assert len(reduced) == 3  # one row per distinct (key, item)


def test_psi_stream_matches_batch_psi(spark, tmp_path):
    """Per-window streaming PSI equals the batch psi_drift SUM computed
    on the same window's rows against the same baseline edges."""
    from rust_cdc_validator_spark.operators.drift import psi_baseline, psi_drift
    from rust_cdc_validator_spark.streaming.windows import psi_stream

    baseline_rows = [(float(v % 50),) for v in range(500)]
    base_df = spark.createDataFrame(baseline_rows, "value double")
    baseline = psi_baseline(base_df, "value", bins=10).localCheckpoint()

    src = tmp_path / "ev"
    src.mkdir()
    # hour 0: same distribution (low PSI); hour 1: shifted (high PSI)
    h0 = [((0, i % 60), 1, "e", float(i % 50)) for i in range(120)]
    h1 = [((1, i % 60), 1, "e", float(25 + i % 25)) for i in range(120)]
    _write_events(str(src / "a.parquet"), h0 + h1)
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = (
        psi_stream(stream, baseline, window="1 hour", watermark="2 hours")
        .writeStream.format("memory").queryName("psi_out")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"].hour: (r["n_events"], r["psi"])
        for r in spark.sql("SELECT * FROM psi_out").collect()
    }
    import datetime as dt

    for hour, rows in ((0, h0), (1, h1)):
        batch = spark.createDataFrame(
            [(r[3],) for r in rows], "value double"
        )
        want = (
            psi_drift(base_df, batch, "value", bins=10)
            .agg({"psi_contrib": "sum"})
            .collect()[0][0]
        )
        assert got[hour][0] == len(rows)
        assert got[hour][1] == pytest.approx(want, abs=1e-9)
    assert got[0][1] < 0.1 < got[1][1]  # stable hour vs shifted hour


def test_psi_stream_empty_baseline_raises(spark):
    from rust_cdc_validator_spark.streaming.windows import psi_stream

    empty = spark.createDataFrame(
        [], "bin int, bin_lo double, width double, share_before double"
    )
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="baseline"):
        psi_stream(stream, empty, value_col="value", ts_col="timestamp")


# ---------------------------------------------------------------------------
# Built-in session windows (r11)
# ---------------------------------------------------------------------------


def test_session_rollup_builtin_session_window(spark, tmp_path):
    """Two sessions per the 30-min gap, correct even though the second
    batch delivers an EARLIER event (out-of-order within the watermark) —
    the property the order-sensitive stateful fold only gets per-batch."""
    from rust_cdc_validator_spark.streaming.windows import session_rollup

    src = tmp_path / "sess_events"
    src.mkdir()
    # batch 1: u1 at 00:00, 00:10; then a gap; u1 at 01:00
    _write_events(
        str(src / "b1.parquet"),
        [((0, 0), 1, "click", 1.0), ((0, 10), 1, "click", 2.0),
         ((1, 0), 1, "click", 4.0)],
    )
    # batch 2: late-but-within-watermark event at 00:20 — belongs to the
    # FIRST session; plus a far-future row to push the watermark past
    # every session end so both emit.
    _write_events(
        str(src / "b2.parquet"),
        [((0, 20), 1, "click", 8.0), ((9, 0), 2, "click", 0.5)],
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = session_rollup(stream, gap="30 minutes", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("sess_rollup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r["user_id"], r["session_start"].hour, r["session_start"].minute): (
            r["n_events"], r["sum_value"]
        )
        for r in spark.sql("SELECT * FROM sess_rollup").collect()
    }
    # u1 session 1: 00:00-00:20 (3 events incl. the out-of-order 00:20)
    assert rows[(1, 0, 0)] == (3, 11.0)
    # u1 session 2: the lone 01:00 event
    assert rows[(1, 1, 0)] == (1, 4.0)
    # u2's 09:00 session stays OPEN (watermark never passes it) — append
    # mode must not have emitted it
    assert (2, 9, 0) not in rows


def test_session_rollup_matches_batch_sessionize(spark, tmp_path):
    """Session boundaries from the built-in session_window equal the
    batch lag-gap sessionization on the same ordered feed."""
    from rust_cdc_validator_spark.streaming.windows import session_rollup

    rows = [((0, 0), 1, "a", 1.0), ((0, 10), 1, "a", 1.0),
            ((1, 0), 1, "a", 1.0), ((0, 5), 2, "a", 1.0),
            ((2, 0), 3, "a", 1.0)]
    src = tmp_path / "sess_eq"
    src.mkdir()
    _write_events(str(src / "b1.parquet"), rows)
    # sentinel far in the future closes everything
    _write_events(str(src / "zz.parquet"), [((23, 59), 99, "zz", 0.0)])
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    out = session_rollup(stream, gap="30 minutes", watermark="1 minute")
    q = (
        out.writeStream.format("memory").queryName("sess_eq")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"].strftime("%H:%M"), r["n_events"])
        for r in spark.sql(
            "SELECT * FROM sess_eq WHERE user_id != 99"
        ).collect()
    }
    # batch reference: per-key lag > 30min starts a new session
    import datetime as dt
    from collections import defaultdict

    by_key = defaultdict(list)
    for (h, m), u, _, _ in rows:
        by_key[u].append(dt.datetime(2024, 1, 1, h, m))
    want = set()
    for u, ts_list in by_key.items():
        ts_list.sort()
        start, n = ts_list[0], 1
        prev = ts_list[0]
        for t in ts_list[1:]:
            if (t - prev).total_seconds() > 1800:
                want.add((u, start.strftime("%H:%M"), n))
                start, n = t, 0
            n += 1
            prev = t
        want.add((u, start.strftime("%H:%M"), n))
    assert got == want


# ---------------------------------------------------------------------------
# Stream-stream interval join (r11)
# ---------------------------------------------------------------------------


def test_stream_interval_join_inner(spark, tmp_path):
    """Purchases join the same user's views within the preceding 30 min —
    across micro-batches (the view arrives in an earlier batch than the
    purchase) and never outside the window."""
    from rust_cdc_validator_spark.streaming.windows import (
        stream_interval_join,
    )

    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    vdir.mkdir(); pdir.mkdir()
    _write_events(
        str(vdir / "b1.parquet"),
        [((0, 0), 1, "view", 1.0), ((0, 50), 1, "view", 2.0),
         ((0, 5), 2, "view", 3.0)],
    )
    _write_events(
        str(pdir / "b1.parquet"),
        [((0, 20), 1, "purchase", 10.0),   # joins u1 view@00:00
         ((1, 10), 1, "purchase", 20.0),   # joins u1 view@00:50
         ((1, 0), 2, "purchase", 30.0)],   # u2 view@00:05 outside 30min
    )
    views = spark.readStream.schema(SCHEMA).parquet(str(vdir))
    purch = spark.readStream.schema(SCHEMA).parquet(str(pdir))
    joined = stream_interval_join(
        purch, views, key_col="user_id", lookback="30 minutes"
    )
    q = (
        joined.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["l_user_id"], r["l_value"], r["r_value"])
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    assert got == {(1, 10.0, 1.0), (1, 20.0, 2.0)}


def test_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    from rust_cdc_validator_spark.streaming.windows import (
        stream_interval_join,
    )

    vdir, pdir = tmp_path / "views2", tmp_path / "purch2"
    vdir.mkdir(); pdir.mkdir()
    # a far-future view pushes the views watermark forward so the
    # unmatched left row's window provably closes
    _write_events(
        str(vdir / "b1.parquet"),
        [((0, 0), 1, "view", 1.0), ((9, 0), 9, "view", 0.0)],
    )
    _write_events(
        str(pdir / "b1.parquet"),
        [((0, 10), 1, "purchase", 10.0),
         ((0, 10), 2, "purchase", 30.0),   # no view for u2
         ((9, 0), 9, "purchase", 0.0)],    # watermark pusher
    )
    views = spark.readStream.schema(SCHEMA).parquet(str(vdir))
    purch = spark.readStream.schema(SCHEMA).parquet(str(pdir))
    joined = stream_interval_join(
        purch, views, key_col="user_id",
        lookback="30 minutes", how="leftOuter",
        left_watermark="10 minutes", right_watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("ssj_outer")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["l_user_id"], r["r_user_id"])
        for r in spark.sql(
            "SELECT * FROM ssj_outer WHERE l_user_id IN (1, 2)"
        ).collect()
    }
    assert (1, 1) in got          # matched pair
    assert (2, None) in got       # unmatched left emitted with nulls


def test_dedup_within_watermark_drops_then_reemits_after_expiry(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics across micro-batches:
    a duplicate id within the watermark window is dropped; once the
    watermark passes the first copy's event time, its state is evicted
    and a later same-id record is RE-emitted (the documented
    at-least-once boundary of the bounded-state variant)."""
    from rust_cdc_validator_spark.streaming.windows import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "dedup_wm"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()),
         T.StructField("event_id", T.LongType())]
    )
    import datetime as dt
    import pyarrow as pa_
    import pyarrow.parquet as pq_

    def w(name, rows):
        pq_.write_table(
            pa_.table(
                {"ts": [dt.datetime(2024, 1, 1, h, m) for h, m, _ in rows],
                 "event_id": [e for _, _, e in rows]}
            ),
            str(src / name),
        )

    stream = spark.readStream.schema(schema).parquet(str(src))
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    # sequential availableNow drains against one checkpoint (file-source
    # discovery order is not contractual — the index-maintenance pattern);
    # file sink, because the memory sink cannot resume from a checkpoint
    def drain():
        q = (
            dedup_stream_within_watermark(stream, "event_id", "ts", "10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch a: id 10 at 00:00 (same-batch dup at 00:01 → one copy emitted)
    w("a.parquet", [(0, 0, 10), (0, 1, 10), (0, 2, 11)])
    drain()
    # batch b: dup id 10 at 00:05 is within the 10-minute window → dropped;
    # id 12 at 01:00 advances the watermark to 00:50, expiring id 10's state
    w("b.parquet", [(0, 5, 10), (1, 0, 12)])
    drain()
    # batch c: id 10 again at 01:01 — state expired → re-emitted
    w("c.parquet", [(1, 1, 10)])
    drain()

    got = {
        (r["event_id"], r["ts"].minute + 60 * r["ts"].hour)
        for r in spark.read.parquet(out).collect()
    }
    assert (11, 2) in got and (12, 60) in got
    # exactly ONE pre-expiry copy of id 10 (in-batch emission order is not
    # contractual, so either the 00:00 or 00:01 copy) and the 00:05
    # cross-batch duplicate dropped
    assert len({g for g in got if g[0] == 10 and g[1] < 50}) == 1
    assert (10, 5) not in got
    assert (10, 61) in got  # post-expiry duplicate re-emitted


def test_cusum_stateful_matches_batch_chart(spark, tmp_path):
    import math

    from rust_cdc_validator_spark.operators.timeseries import cusum_chart
    from rust_cdc_validator_spark.streaming.windows import cusum_stateful

    xs = [10.0 + (i % 7) * 0.25 for i in range(25)] + [
        13.0 + (i % 7) * 0.25 for i in range(15)
    ]
    # batch chart (self-baselined) is the reference
    batch_df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, v double"
    )
    batch = {
        r["tick"]: r
        for r in cusum_chart(batch_df, "t", "v", k=0.5, h=4.0).collect()
    }
    # the stream gets the SAME baseline, computed the batch way
    x6 = [math.floor(round(x, 6) * 1e6 + 0.5) for x in xs]
    n = len(xs)
    mu = sum(x6) / n / 1e6
    var = sum(v * v for v in x6) / n / 1e12 - mu * mu
    sigma = math.sqrt(var)

    src = tmp_path / "cusum_src"
    src.mkdir()
    half = len(xs) // 2
    for part, lo, hi in (("a", 0, half), ("b", half, len(xs))):
        pq.write_table(
            pa.table(
                {
                    "series": ["s"] * (hi - lo),
                    "ts_us": list(range(lo, hi)),
                    "value": xs[lo:hi],
                }
            ),
            str(src / f"{part}.parquet"),
        )
    schema = T.StructType(
        [
            T.StructField("series", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cusum_stateful(stream, mu=mu, sigma=sigma, k=0.5, h=4.0)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["tick_us"]: r
        for r in spark.sql("SELECT * FROM cusum_stream").collect()
    }
    assert len(got) == len(xs)
    for t in range(len(xs)):
        assert got[t]["s_plus"] == batch[t]["s_plus"], t
        assert got[t]["s_minus"] == batch[t]["s_minus"], t
        assert got[t]["alarm"] == batch[t]["alarm"], t
    # sustained +3 shift must alarm in the streamed chart too
    assert any(r["alarm"] for r in got.values())


def test_cusum_stateful_drops_out_of_order_ticks(spark, tmp_path):
    from rust_cdc_validator_spark.streaming.windows import cusum_stateful

    import os

    src = tmp_path / "cusum_ooo"
    src.mkdir()
    pq.write_table(
        pa.table(
            {"series": ["s", "s"], "ts_us": [10, 20], "value": [1.0, 2.0]}
        ),
        str(src / "a.parquet"),
    )
    pq.write_table(
        pa.table(
            {"series": ["s", "s"], "ts_us": [15, 30], "value": [9.0, 3.0]}
        ),
        str(src / "b.parquet"),
    )
    # pin strictly-increasing mtimes so the one-file-per-trigger order is
    # a.parquet THEN b.parquet whatever the filesystem timestamp
    # granularity — the straggler-drop semantics under test require the
    # batches to arrive in that order
    os.utime(str(src / "a.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(src / "b.parquet"), (1_700_000_001, 1_700_000_001))
    schema = T.StructType(
        [
            T.StructField("series", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cusum_stateful(stream, mu=2.0, sigma=1.0)
        .writeStream.format("memory")
        .queryName("cusum_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    ticks = sorted(
        r["tick_us"] for r in spark.sql("SELECT * FROM cusum_ooo").collect()
    )
    assert ticks == [10, 20, 30]  # the straggler at 15 was dropped
    with pytest.raises(ValueError, match="sigma"):
        cusum_stateful(stream, mu=0.0, sigma=0.0)
