"""Mergeable distinct-count sketches (HyperLogLog, Flajolet et al. 2007)
as ENGINE-PORTABLE register arrays.

Spark's ``approx_count_distinct`` answers one query; a standing pipeline
needs the SKETCH itself: per-day/per-shard register arrays that persist,
MERGE exactly (register-wise max — sketch(A) ⊎ sketch(B) ==
sketch(A ∪ B), bit-for-bit), and answer distinct-count questions over
arbitrary unions of history without ever recounting raw data. That
union-without-recount property is the whole point — counting 100 TB once
per partition and folding KB-sized registers afterwards.

Everything is JVM expression arithmetic over an md5-derived 60-bit hash
(no UDFs, no JVM-private sketch formats), so a SQL oracle can rebuild the
registers AND the estimate exactly — the `events_user_hll` query is
value-hash-checked against DuckDB, which no binary-sketch design allows.

Layout: one row per group, ``registers`` = dense ``array<int>`` of
``m = 2**p`` rank-of-first-one values. Estimation is the standard HLL
harmonic mean with the small-range linear-counting correction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HASH_BITS = 60  # 15 md5 hex digits — stays positive in a signed 64-bit


def _h60(col: Column) -> Column:
    """Uniform 60-bit hash: first 15 hex digits of md5 of the string form.
    md5 (not xxhash64) so the oracle can replay it: DuckDB parses the
    same digits with CAST('0x' || substring(md5(v), 1, 15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def _dense_regroup(
    regs: DataFrame,
    group_cols: list[str],
    idx_col: str,
    val_col: str,
    size: int,
    out_col: str,
) -> DataFrame:
    """Sparse (group…, idx, val) rows → one dense ``array`` of ``size``
    values per group, zero-filled. Union a per-group ZERO GRID so every
    position exists, then sort-assemble: collect_list of (idx, val)
    structs, one O(m log m) ``array_sort``, extract values — NO per-slot
    map lookups (Spark maps are ArrayBasedMapData: ``element_at`` is a
    LINEAR scan, so the map-based regroup was O(m²) per group — 16 K
    slots took seconds; this is milliseconds). ``regs`` holds at most ONE
    row per (group, idx) slot, so the assembly is pure positional
    arithmetic: collect the sorted (idx, val) entries in the SAME single
    aggregation the old path used (no extra shuffle, no zero grid), then
    gap-fill — each entry contributes ``array_repeat(0, idx − prev − 1)``
    zeros plus its value, and the tail pads to ``size``. O(m) array ops
    per group, value-type preserved (sign-safe — values pass through
    untouched)."""
    zero = F.lit(0).cast(regs.schema[val_col].dataType.simpleString())
    entries = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(idx_col).cast("int").alias("i"),
                F.col(val_col).alias("v"),
            )
        )
    )
    agg = regs.groupBy(*group_cols).agg(entries.alias("_e"))
    e = F.col("_e")
    n = F.size(e)
    prev = F.concat(
        F.array(F.lit(-1)),
        F.transform(
            F.slice(e, 1, F.greatest(n - 1, F.lit(0))), lambda x: x["i"]
        ),
    )
    pieces = F.zip_with(
        e,
        prev,
        lambda x, p: F.concat(
            F.array_repeat(zero, x["i"] - p - 1), F.array(x["v"])
        ),
    )
    dense = F.concat(
        F.flatten(pieces),
        F.array_repeat(zero, F.lit(size - 1) - F.element_at(e, -1)["i"]),
    )
    return agg.select(*group_cols, dense.alias(out_col))


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """One HLL register array per group over ``value_col``'s distinct
    values. ``p`` trades size for error: m = 2**p registers, standard
    error ≈ 1.04/sqrt(m) (p=12 → ±1.6%).

    Scale shape: index and rank are map-side column arithmetic; the
    registers reduce through a (group, idx) max aggregation — map-side
    partial max collapses each partition to ≤ m rows per group before
    the shuffle, so shuffle volume is bounded by groups × m tiny rows
    regardless of input size. The dense regroup moves ≤ m rows per group.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    idx, rho = hll_index_rank(F.col(value_col), p)
    regs = (
        df.select(*group_cols, idx.alias("_idx"), rho.alias("_rho"))
        .groupBy(*group_cols, "_idx")
        .agg(F.max("_rho").alias("_r"))
    )
    return _dense_regroup(regs, group_cols, "_idx", "_r", m, "registers")


def hll_index_rank(col: Column, p: int) -> tuple[Column, Column]:
    """The map-side HLL arithmetic as a (register index, rank) column
    pair — shared by :func:`hll_sketch` and the streaming state fold
    (streaming/windows.distinct_count_stateful) so streaming registers
    stay bit-identical to batch sketches of the same rows. Rank of the
    first 1-bit in the tail window is 1-based from the left; all-zero
    tail -> tail+1. bin() length = floor(log2(w))+1 for w>0, exact
    integer string arithmetic — no float log anywhere. NULL input
    yields NULL columns (callers filter)."""
    tail = _HASH_BITS - p
    h = _h60(col)
    idx = F.shiftright(h, tail)
    w = h.bitwiseAND(F.lit((1 << tail) - 1))
    rho = F.when(w == 0, F.lit(tail + 1)).otherwise(
        F.lit(tail) - (F.length(F.bin(w)) - F.lit(1))
    )
    return idx, rho


def hll_merge(a: Column, b: Column) -> Column:
    """Union two register arrays: element-wise max. EXACT: merging
    per-partition sketches gives bit-identical registers to sketching the
    union (max is associative/commutative/idempotent), so re-merging,
    re-ordering, or double-counting overlapping history never skews the
    estimate."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def hll_estimate(registers: Column, p: int = 12) -> Column:
    """Distinct-count estimate from a register array: HLL harmonic mean
    ``alpha_m · m² / Σ 2^(−r)`` with the small-range linear-counting
    correction (``m·ln(m/V)`` when the raw estimate ≤ 2.5m and V empty
    registers remain). Pure expression — usable over persisted sketches
    without any driver code, and replayable in SQL."""
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.673
    s = F.aggregate(
        registers,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    zeros = F.size(F.filter(registers, lambda r: r == 0))
    raw = F.lit(alpha * m * m) / s
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)


# ---------------------------------------------------------------------------
# Count-Min: mergeable frequency sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

def _cm_bucket(value: Column, i: int, w: int) -> Column:
    """Row-``i`` bucket for a value: 4 md5 hex digits of the salted string
    form, mod ``w`` (w must divide 16⁴ so the mod is unbiased) — the same
    engine-portable discipline as every md5 bucket here."""
    h = F.md5(F.concat(F.lit(f"{i}:"), value.cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % w).cast("int")


def cm_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str | None = None,
    d: int = 4,
    w: int = 256,
    fanout: str = "union",
) -> DataFrame:
    """One Count-Min table per group: ``d`` hash rows × ``w`` counters,
    flattened row-major into a single ``array<long>`` (``counters``).
    Point-frequency overestimates by at most ``e·N/w`` with probability
    ``1 − e^−d`` (never underestimates) — the heavy-hitter / frequency
    side of the sketch family (:func:`hll_sketch` is the distinct side).

    Scale shape: bucket assignment is map-side arithmetic; each of the
    ``d`` rows reduces through a (group, row, bucket) SUM whose map-side
    partials bound shuffle volume at groups × d × w rows whatever the
    input size; the dense regroup moves the same. ``weight_col`` makes it
    a weighted-frequency sketch (token counts, byte sizes).

    ``fanout`` picks how the d hash rows are produced — both forms are
    bit-identical, the choice is pure physics (r10→r11 bisect):

    * ``"union"`` (default): d branch selects unioned. Over a
      MATERIALIZED input (a parquet scan, a checkpoint) the branches
      cost d cheap column re-scans, run as d× the TASKS, and add no
      shuffle (the map-side partial agg bounds exchange volume at
      groups × d × w rows either way). On an under-split source —
      orders.parquet at bench scale plans as ONE file split — the d
      branches are the only source of parallelism: the explode form
      serialized 4·N md5s onto ≤3 cores and cost 1.7× on
      orders_join_size_sketch (2.65 s vs 1.55 s solo, 6 reps).
    * ``"explode"``: one pass over the input, each row fanned to d
      (row, bucket) structs via explode. Use when the input subtree is
      EXPENSIVE and un-materialized (a join, a tokenizer explode) —
      the union form would re-evaluate it d times — or when the source
      is already split finer than the cores so branch-parallelism buys
      nothing and the d−1 saved re-scans win.
    """
    if 65536 % w != 0:
        raise ValueError("w must divide 16^4 (unbiased md5 bucket contract)")
    if d < 1:
        raise ValueError("d must be >= 1")
    if fanout not in ("union", "explode"):
        raise ValueError("fanout must be 'union' or 'explode'")
    wt = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    if fanout == "union":
        rows = None
        for i in range(d):
            r = df.select(
                *group_cols,
                F.lit(i).alias("_row"),
                _cm_bucket(F.col(value_col), i, w).alias("_b"),
                wt.alias("_wt"),
            )
            rows = r if rows is None else rows.unionByName(r)
    else:
        # the weight is constant across rows, so it rides outside the
        # explode
        rows = df.select(
            *group_cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("_row"),
                            _cm_bucket(F.col(value_col), i, w).alias("_b"),
                        )
                        for i in range(d)
                    ]
                )
            ).alias("_rb"),
            wt.alias("_wt"),
        ).select(
            *group_cols,
            F.col("_rb._row").alias("_row"),
            F.col("_rb._b").alias("_b"),
            "_wt",
        )
    regs = (
        rows.groupBy(*group_cols, "_row", "_b")
        .agg(F.sum("_wt").alias("_c"))
        .select(
            *group_cols,
            (F.col("_row") * w + F.col("_b")).cast("int").alias("_i"),
            "_c",
        )
    )
    return _dense_regroup(regs, group_cols, "_i", "_c", d * w, "counters")


def cm_merge(a: Column, b: Column) -> Column:
    """Combine two Count-Min tables: element-wise sum. Over DISJOINT
    inputs (per-partition / per-day sketches of distinct row sets) this
    is exactly the sketch of the union; overlapping inputs double-count —
    unlike :func:`hll_merge`, CM merge is additive, not idempotent, so
    fold each raw row into exactly one part."""
    return F.zip_with(a, b, lambda x, y: x + y)


def cm_estimate(counters: Column, value: Column, d: int = 4, w: int = 256) -> Column:
    """Point-frequency estimate: min over the ``d`` rows of the value's
    counter — a pure expression over a persisted sketch (join the sketch
    row, estimate any number of candidate values without touching raw
    data). Never below the true count."""
    est = None
    for i in range(d):
        c = F.element_at(counters, _cm_bucket(value, i, w) + F.lit(i * w) + 1)
        est = c if est is None else F.least(est, c)
    return est


def cm_join_size(a: Column, b: Column, d: int = 4, w: int = 256) -> Column:
    """Join-cardinality estimate from two Count-Min tables built over the
    JOIN KEY of each side: |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated as the
    MIN over the d hash rows of the row-wise counter dot product
    (Cormode & Muthukrishnan 2005 §4.2 — the inner-product query). Always
    an OVERestimate in expectation (colliding keys add cross terms, never
    subtract), error ≤ e·N_A·N_B/w per row with prob 1−e^−d.

    The plan-time sizing primitive: persisted per-table key sketches
    answer "how big would this join be" for ANY table pair without
    touching raw data — broadcast-vs-shuffle decisions, skew alarms
    (compare the estimate against N_A + N_B), incremental-maintenance
    sizing. Pure expression over two KB-sized arrays; replayable in SQL
    like every sketch here.

    Overflow contract: at w=256 two ~10¹²-row sides already push a
    counter dot product past int64, so the accumulation WIDENS to
    DECIMAL(38,0) (good to ~10³⁸ — beyond any real join cardinality) and
    the final narrowing back to BIGINT is asserted in-plan: an estimate
    that genuinely exceeds int64 raises instead of wrapping silently.
    """
    est = None
    for i in range(d):
        row_dot = F.aggregate(
            F.zip_with(
                F.slice(a, i * w + 1, w),
                F.slice(b, i * w + 1, w),
                lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)"),
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, t: acc + t,
        )
        est = row_dot if est is None else F.least(est, row_dot)
    long_max = F.lit(9223372036854775807).cast("decimal(38,0)")
    return F.when(
        F.assert_true(
            est <= long_max,
            F.lit(
                "cm_join_size: estimate exceeds int64 — raise w or "
                "pre-scale counters"
            ),
        ).isNull(),
        est.cast("long"),
    )


# ---------------------------------------------------------------------------
# Quantile histogram: mergeable rank sketch (HDR-histogram bucketing,
# Tene's public HdrHistogram design — exponential octaves with linear
# sub-buckets, bounded relative error)
# ---------------------------------------------------------------------------

def _qh_bucket(c: Column, s: int) -> Column:
    """Bucket id for integer units ``c`` >= 0 with ``sub = 2**s`` linear
    sub-buckets per power-of-two octave: values < sub get an EXACT bucket
    (id = value); larger values keep their top ``s+1`` mantissa bits, so
    every bucket spans <= 2^-s relative width. Pure integer arithmetic —
    the octave is ``length(bin(c)) - 1``, the same no-float-log trick the
    HLL rank uses, so a SQL oracle rebuilds ids exactly."""
    sub = 1 << s
    octave = F.length(F.bin(c)) - F.lit(1)
    shift = octave - F.lit(s)
    # call_function: the Python shiftright/shiftleft helpers only accept a
    # literal shift; the SQL functions take expressions.
    m = F.call_function("shiftright", c, shift)
    return F.when(c < sub, c).otherwise((octave - s) * sub + m).cast("int")


def _qh_bounds(bucket: Column, s: int) -> tuple[Column, Column]:
    """Inverse of `_qh_bucket`: the inclusive [lo, hi] integer-unit range a
    bucket id covers (exact singleton below ``sub``)."""
    sub = 1 << s
    o = F.lit(s) + F.floor((bucket - sub) / F.lit(sub)).cast("int")
    m = bucket - (o - F.lit(s)) * F.lit(sub)
    shift = o - F.lit(s)
    lo = F.call_function("shiftleft", m.cast("long"), shift)
    hi = F.call_function("shiftleft", (m + F.lit(1)).cast("long"), shift) - F.lit(1)
    small = bucket < sub
    return (
        F.when(small, bucket.cast("long")).otherwise(lo),
        F.when(small, bucket.cast("long")).otherwise(hi),
    )


def q_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    s: int = 5,
    scale: int = 1,
) -> DataFrame:
    """Mergeable quantile sketch as a RELATION: one (group, bucket, lo,
    hi, cnt) row per occupied bucket. ``scale`` converts the value to
    integer units first (100 for cents); ``s`` sets accuracy — every
    bucket is at most 2^-s relative-width, so any quantile read off the
    histogram is within that of the truth. Negative values are a loud
    error (rank sketches of signed data should offset first); nulls are
    ignored like any SQL aggregate.

    This completes the engine-portable sketch trio (HLL = distinct, CM =
    frequency, QH = rank): like them it is built once per shard/day,
    persisted small (<= ~32·octaves rows per group), and MERGED instead
    of recounting — `q_histogram_merge` is a groupBy-sum, associative and
    exact, so quantiles over any union of history cost KB, not a rescan.

    Scale shape: bucketing is map-side integer expression work; the count
    agg gets map-side partial combine, so at most (partitions × buckets)
    tiny rows shuffle regardless of input size.
    """
    if not 0 <= s <= 10:
        raise ValueError("s must be in [0, 10]")
    if scale < 1:
        raise ValueError("scale must be >= 1")
    units = F.round(F.col(value_col).cast("double") * scale).cast("long")
    units = F.when(
        units >= 0, units
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_histogram: negative value "),
                F.col(value_col).cast("string"),
            )
        )
    )
    b = _qh_bucket(F.col("_units"), s)
    lo, hi = _qh_bounds(F.col("bucket"), s)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, units.alias("_units"))
        .select(*group_cols, b.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(*group_cols, "bucket", lo.alias("lo"), hi.alias("hi"), "cnt")
    )


def q_histogram_merge(parts: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union per-shard histograms: re-sum counts per (group, bucket).
    Additive like :func:`cm_merge` — each raw row must be folded into
    exactly one part. The bounds are functionally determined by the
    bucket id, so min/max here is a no-op reconstruction, not data."""
    return parts.groupBy(*group_cols, "bucket").agg(
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        F.sum("cnt").alias("cnt"),
    )


def q_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    qs: list[float],
    scale: int = 1,
) -> DataFrame:
    """Quantile estimates from a `q_histogram` relation: for each q the
    bucket holding the ceil(q·N)-th ranked value, reported as the bucket
    midpoint back in original units — within 2^-s relative error by
    construction. One window cumsum per group plus a group agg; the
    histogram is already tiny, so this is driver-free KB work.
    """
    from pyspark.sql import Window

    if not qs or any(not 0 < q <= 1 for q in qs):
        raise ValueError("qs must be fractions in (0, 1]")
    w = Window.partitionBy(*group_cols).orderBy(F.col("bucket").asc())
    cum = hist.withColumn("_cum", F.sum("cnt").over(w)).withColumn(
        "_tot", F.sum("cnt").over(Window.partitionBy(*group_cols))
    )
    mid = (F.col("lo") + F.col("hi")).cast("double") / F.lit(2.0 * scale)
    aggs = []
    for q in qs:
        target = F.ceil(F.lit(q) * F.col("_tot"))
        aggs.append(
            F.round(
                F.min(F.when(F.col("_cum") >= target, mid)), 4
            ).alias(f"p{int(round(q * 100)):02d}")
        )
    return cum.groupBy(*group_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# Key Bloom filter: engine-portable bitmap for join pruning (Bloom 1970)
# ---------------------------------------------------------------------------

def _bloom_pos(value: Column, i: int) -> Column:
    """Probe-``i`` bit position: 4 salted md5 hex digits = an unbiased
    16-bit address — the same engine-portable discipline as
    :func:`_cm_bucket`, so a SQL oracle rebuilds every position."""
    h = F.md5(F.concat(F.lit(f"{i}:"), value.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")


def _bloom_bucket(value: Column, buckets: int) -> Column:
    """Filter-routing bucket for a key: 8 md5 hex digits (independent of
    every :func:`_bloom_pos` salt) mod ``buckets`` — computable from the
    key ALONE, so the probe side routes to the same per-bucket filter
    without any extra information."""
    h = F.md5(F.concat(F.lit("bkt:"), value.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets
    ).cast("int")


def key_bloom(
    df: DataFrame, key_col: str, k: int = 4, buckets: int = 1
) -> DataFrame:
    """Bloom bitmap over a key column as a RELATION: (w, bits) rows where
    word ``w`` holds 32 bloom bits — ≤ 2048 rows total (64 Kbit filter),
    built with one hash aggregation (map-side ``bit_or`` partials).

    The bitmap-as-relation form (vs a driver-held byte array) keeps the
    build fully in-plan and the probe a broadcast join — nothing ever
    collects, and both sides replay in SQL (``bit_or`` + shifts exist in
    every engine). False-positive rate ≈ (1 − e^(−k·n/m))^k: at the fixed
    m = 65 536 and k = 4, ~2.4% for n = 10⁴ keys.

    ``buckets`` > 1 scales past that: keys hash-route to one of
    ``buckets`` independent 64 Kbit filters (the relation grows a ``bkt``
    grouping column — ≤ buckets × 2048 rows, still one ``bit_or`` agg and
    still broadcastable), so each filter holds ~n/buckets keys and the FP
    rate is that of the SMALLER load — at n = 10⁵ a single filter is
    ~99% FP (useless) while 32 buckets hold ~0.1%. Probes route by the
    same key-derived hash.

    The build's ``buckets`` value is EMBEDDED in the relation as a
    constant ``n_buckets`` column (r10 advice): :func:`bloom_prune`
    derives it from there by default and exact-compares any explicit
    value, so a build/probe mismatch fails loudly in BOTH directions —
    a mis-routed probe is a silent FALSE NEGATIVE, the one contract a
    bloom filter must never break.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    bucketed = buckets > 1
    # all k hash positions in ONE pass (explode, not a unionAll chain —
    # the union form evaluates the key subtree k times)
    structs = []
    for i in range(k):
        p = _bloom_pos(F.col(key_col), i)
        structs.append(
            F.struct(
                F.shiftright(p, 5).cast("int").alias("w"),
                # call_function: the Python shift helpers take literal
                # shifts only
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    p.bitwiseAND(F.lit(31)).cast("int"),
                ).alias("_bit"),
            )
        )
    cols = [F.explode(F.array(*structs)).alias("_p")]
    if bucketed:
        cols.insert(0, _bloom_bucket(F.col(key_col), buckets).alias("bkt"))
    probes = df.select(*cols).select(
        *(["bkt"] if bucketed else []),
        F.col("_p.w").alias("w"),
        F.col("_p._bit").alias("_bit"),
    )
    group = ["bkt", "w"] if bucketed else ["w"]
    return (
        probes.groupBy(*group)
        .agg(F.bit_or("_bit").alias("bits"))
        .withColumn("n_buckets", F.lit(buckets).cast("int"))
    )


def bloom_prune(
    df: DataFrame, key_col: str, bloom: DataFrame, k: int = 4,
    buckets: int | None = None, rebalance: int | None = None,
) -> DataFrame:
    """Keep only rows whose ``key_col`` PASSES the bloom filter — the
    map-side pre-filter in front of a shuffle join: the big side drops
    definite non-matches BEFORE the exchange (no false negatives; false
    positives are the small, auditable price). ``k`` broadcast hash joins
    against the ≤ 2048-row bitmap relation, all map-side — the plan stays
    exchange-free on ``df``. Mirrors what Spark's runtime bloom pushdown
    does, made explicit, deterministic, and SQL-replayable.

    ``buckets`` defaults to the value EMBEDDED in the relation by
    :func:`key_bloom` (the ``n_buckets`` constant column, read with one
    LIMIT-1 probe — not the full-relation aggregate the r10 guard paid),
    so build and probe cannot drift; an explicitly passed value is
    exact-compared against the embedded one and BOTH mismatch directions
    raise (a mis-routed probe is a silent false negative). Routing is
    one more equi-column on the same broadcast joins — still zero
    exchanges on ``df``.

    ``rebalance``: same under-split-source hint as :func:`bloom_flag` —
    leave None at production split counts (the exchange-free plan IS
    the point); set on single-file local sources where the k hashes
    would serialize onto the scan's row-group-bound task count.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if buckets is not None and buckets < 1:
        raise ValueError("buckets must be >= 1")
    if "n_buckets" not in bloom.columns:
        raise ValueError(
            "bloom relation has no 'n_buckets' column — rebuild it with "
            "key_bloom (the build embeds its buckets value so probes "
            "can never mis-route)"
        )
    first = bloom.select("n_buckets").first()
    built_buckets = int(first["n_buckets"]) if first is not None else None
    if built_buckets is None:
        # empty relation: no keys were added, so every probe is a
        # definite non-member whatever the routing — honor the caller's
        # value (or unbucketed) and let the filter reject everything
        built_buckets = buckets or 1
    elif buckets is not None and buckets != built_buckets:
        raise ValueError(
            f"bloom relation was built with buckets={built_buckets} but "
            f"buckets={buckets} was passed — a mismatched probe routes "
            "keys to the wrong per-bucket filter (silent false "
            "negatives); omit buckets to use the embedded value"
        )
    buckets = built_buckets
    bucketed = buckets > 1
    if bucketed and "bkt" not in bloom.columns:
        raise ValueError(
            "bloom relation claims n_buckets > 1 but has no 'bkt' "
            "column — not a key_bloom relation"
        )
    if rebalance is not None:
        if rebalance < 1:
            raise ValueError("rebalance must be >= 1")
        df = df.repartition(rebalance)
    out, cond, drop = _bloom_probe_joined(df, key_col, bloom, k, buckets)
    return out.filter(cond).drop(*drop)


def _bloom_probe_joined(
    df: DataFrame, key_col: str, bloom: DataFrame, k: int, buckets: int
) -> tuple[DataFrame, Column, list[str]]:
    """The k broadcast probe joins shared by :func:`bloom_prune` (filter
    form) and :func:`bloom_flag` (audit form): returns the joined frame,
    the never-NULL pass condition, and the helper columns to drop."""
    bucketed = buckets > 1
    out = df
    cond = None
    for i in range(k):
        p = _bloom_pos(F.col(key_col), i)
        side_cols = [
            F.col("w").alias(f"_bw{i}"), F.col("bits").alias(f"_bb{i}")
        ]
        on = F.shiftright(p, 5).cast("int") == F.col(f"_bw{i}")
        if bucketed:
            side_cols.insert(0, F.col("bkt").alias(f"_bk{i}"))
            on = on & (
                _bloom_bucket(F.col(key_col), buckets) == F.col(f"_bk{i}")
            )
        side = bloom.select(*side_cols)
        out = out.join(F.broadcast(side), on, "left")
        hit = (
            F.call_function(
                "shiftright",
                F.coalesce(F.col(f"_bb{i}"), F.lit(0).cast("long")),
                p.bitwiseAND(F.lit(31)).cast("int"),
            ).bitwiseAND(F.lit(1))
            == 1
        )
        cond = hit if cond is None else (cond & hit)
    drop = [c for i in range(k) for c in (f"_bw{i}", f"_bb{i}")]
    if bucketed:
        drop += [f"_bk{i}" for i in range(k)]
    return out, cond, drop


def bloom_flag(
    df: DataFrame, key_col: str, bloom: DataFrame, flag_col: str = "bloom_hit",
    k: int = 4, buckets: int | None = None, rebalance: int | None = None,
) -> DataFrame:
    """:func:`bloom_prune`'s audit form: every row kept, plus a boolean
    ``flag_col`` saying whether the key passes the filter — for
    one-pass FP/pruned-fraction accounting (count, passes, and
    true-match flags in a single scan instead of a filtered pass per
    statistic) and for routing rows instead of dropping them. Same
    embedded-``n_buckets`` contract and broadcast-only plan as the
    filter form.

    ``rebalance``: optionally round-robin the probe relation to N
    partitions BEFORE the k md5 probes. The contract at production
    split counts is "the big side never exchanges" — leave None there.
    On an UNDER-SPLIT source (one parquet file, few row groups — the
    local-bench shape) the k hashes serialize onto the scan's task
    count, and finer byte-splits can't help because row groups bound
    scan parallelism; exchanging just the projected probe columns buys
    full-core hashing (measured 2.8× on the sf0.1 audit query)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if buckets is not None and buckets < 1:
        raise ValueError("buckets must be >= 1")
    if rebalance is not None:
        if rebalance < 1:
            raise ValueError("rebalance must be >= 1")
        df = df.repartition(rebalance)
    if "n_buckets" not in bloom.columns:
        raise ValueError(
            "bloom relation has no 'n_buckets' column — rebuild it with "
            "key_bloom"
        )
    first = bloom.select("n_buckets").first()
    built_buckets = int(first["n_buckets"]) if first is not None else None
    if built_buckets is None:
        built_buckets = buckets or 1
    elif buckets is not None and buckets != built_buckets:
        raise ValueError(
            f"bloom relation was built with buckets={built_buckets} but "
            f"buckets={buckets} was passed"
        )
    out, cond, drop = _bloom_probe_joined(
        df, key_col, bloom, k, built_buckets
    )
    return out.withColumn(flag_col, cond).drop(*drop)


# ---------------------------------------------------------------------------
# KMV / theta sketch: k-minimum-values distinct sketch with SET ALGEBRA
# (Bar-Yossef et al. 2002; Dasgupta et al. 2016 "Theta sketch framework")
# ---------------------------------------------------------------------------

_KMV_FULL = float(1 << 60)  # hash domain size: _h60 is uniform in [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """One KMV (bottom-k / theta) sketch per group: the ``k`` SMALLEST
    distinct md5-derived hashes of ``value_col``. Where HLL registers
    only union, KMV supports the full set algebra — intersection and
    DIFFERENCE estimates via :func:`kmv_pair_overlap` — because the
    sketch is an order-statistics sample: everything below the kth
    minimum is a uniform θ-fraction view of the set.

    Returns (group..., hashes ASC array ≤ k, n_distinct_seen flag as
    ``saturated``, and ``est`` — exact count when the group has < k
    distinct values, else the unbiased (k−1)/θ estimator). Standard
    error ≈ 1/√(k−2) (k=256 → ±6.3%).

    Scale shape: ONE (group, hash) dedup agg with map-side combine;
    bottom-k runs two-phase — per (group, input-partition) rank bounds
    every first-phase sort at partition size, the per-group second
    phase ranks ≤ k·P survivors (never the raw distinct relation, so a
    hot group cannot funnel its whole value set through one task). The
    sketch relation is groups × k longs — KBs; merges and estimates
    never touch raw data. All arithmetic is exact integer hashes +
    per-row double division, so a SQL oracle replays estimates
    bit-for-bit."""
    if k < 8:
        raise ValueError("k must be >= 8")
    h = _h60(F.col(value_col))
    cells = (
        df.select(*group_cols, h.alias("_h"))
        .filter(F.col("_h").isNotNull())
        .groupBy(*group_cols, "_h")
        .agg(F.lit(1).alias("_one"))
    )
    wp = Window.partitionBy(
        *group_cols, F.spark_partition_id()
    ).orderBy(F.col("_h").asc())
    survivors = cells.withColumn("_r1", F.row_number().over(wp)).filter(
        F.col("_r1") <= k
    )
    wg = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    kept = survivors.withColumn("_r2", F.row_number().over(wg)).filter(
        F.col("_r2") <= k
    )
    sk = kept.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("_h")).alias("hashes"),
        F.count(F.lit(1)).cast("long").alias("_nz"),
    )
    theta = F.element_at(F.col("hashes"), k).cast("double")
    return sk.select(
        *group_cols,
        "hashes",
        (F.col("_nz") >= k).alias("saturated"),
        F.when(F.col("_nz") < k, F.col("_nz").cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(_KMV_FULL) / theta)
        .alias("est"),
    )


def kmv_pair_overlap(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise set algebra over :func:`kmv_sketch` output: for every
    unordered group pair (a < b), estimated |A|, |B|, |A∪B|, |A∩B|, and
    both DIFFERENCES |A∖B| / |B∖A| — the subtraction HLL registers
    cannot express. Union re-ranks the merged hash sets (k smallest of
    the union = the union's own sketch, exactly); intersection and
    difference count sketch hashes below θ = min(θ_A, θ_B) and scale by
    1/θ (the theta-framework estimator — exact when neither side is
    saturated, since θ is then the full domain).

    Scale shape: the sketch relation is groups-sized; pairs fan out
    groups²/2 rows of ≤ k-long arrays, all array expressions JVM-side —
    micro-scale by construction, raw data untouched."""
    a = sketches.select(
        F.col(group_col).alias("ga"),
        F.col("hashes").alias("ha"),
        F.col("saturated").alias("sa"),
        F.col("est").alias("est_a"),
    )
    b = sketches.select(
        F.col(group_col).alias("gb"),
        F.col("hashes").alias("hb"),
        F.col("saturated").alias("sb"),
        F.col("est").alias("est_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("ga") < F.col("gb"))
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("ha"), F.col("hb")))),
        1,
        k,
    )
    n_merged = F.size(
        F.array_distinct(F.concat(F.col("ha"), F.col("hb")))
    )
    theta_u = F.element_at(merged, k).cast("double")
    union_est = F.when(n_merged < k, n_merged.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_FULL) / theta_u
    )
    theta_a = F.when(
        F.col("sa"), F.element_at(F.col("ha"), k).cast("double")
    ).otherwise(F.lit(_KMV_FULL))
    theta_b = F.when(
        F.col("sb"), F.element_at(F.col("hb"), k).cast("double")
    ).otherwise(F.lit(_KMV_FULL))
    theta = F.least(theta_a, theta_b)
    below = lambda arr: F.size(  # noqa: E731
        F.filter(arr, lambda x: x.cast("double") < theta)
    )
    inter = below(F.array_intersect(F.col("ha"), F.col("hb")))
    only_a = below(F.array_except(F.col("ha"), F.col("hb")))
    only_b = below(F.array_except(F.col("hb"), F.col("ha")))
    scale = F.lit(_KMV_FULL) / theta
    return pairs.select(
        "ga",
        "gb",
        F.round("est_a", 4).alias("est_a_r"),
        F.round("est_b", 4).alias("est_b_r"),
        F.round(union_est, 4).alias("est_union_r"),
        F.round(inter.cast("double") * scale, 4).alias("est_intersect_r"),
        F.round(only_a.cast("double") * scale, 4).alias("est_a_minus_b_r"),
        F.round(only_b.cast("double") * scale, 4).alias("est_b_minus_a_r"),
    )
