"""Query catalog: every implemented operator exposed as a (spark, sf_dir) →
DataFrame callable plus an equivalent ANSI-SQL oracle for DuckDB.

Engine-portability rules (so value hashes match across Spark and DuckDB):
* money/double aggregations go through exact DECIMAL sums, cast to DOUBLE at
  the end (per-row double arithmetic is IEEE-identical in both engines;
  multi-row double SUM order is not);
* divisions happen once, in double, at the end;
* every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_validator_spark.functions.text import STOPWORDS
from rust_cdc_validator_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    exact_substring_scrub,
    exact_substring_stats,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_candidates,
)
from rust_cdc_validator_spark.operators.diff import row_digest
from rust_cdc_validator_spark.operators.multimodal import media_features
from rust_cdc_validator_spark.operators.replay import (
    net_effect,
    net_effect_partial,
    union_evolving,
)
from rust_cdc_validator_spark.operators.similarity import brute_force_topk, lsh_bucket_topk

QueryFn = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to int64 epoch-nanos (`ts_ns`) whatever the
    parquet encoding: TIMESTAMP(NANOS) (earlier testdata generations —
    Spark's vectorized reader rejects it, so `nanosAsLong` surfaces it as
    raw int64 nanos) or TIMESTAMP(MICROS) (current generation — read as
    TIMESTAMP_NTZ, reinterpreted as a UTC instant via the UTC session
    timezone, ×1000 to nanos; DuckDB's `epoch_ns(ts)` oracle side agrees
    because it also treats naive timestamps as UTC). Downstream time
    bucketing stays in integer nanos — timezone-free and engine-portable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ts_ns = F.col("ts")
    else:
        # The NTZ→timestamp cast interprets the naive value in the SESSION
        # timezone; only UTC makes it agree with DuckDB's epoch_ns. get_spark
        # pins it, but a foreign session would silently shift every ts_ns —
        # fail loudly instead (ADVICE r4).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"events micros path requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}); naive parquet timestamps would be shifted"
            )
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    return ev.withColumn("ts_ns", ts_ns.cast("long")).drop("ts")


def _dsum(col, scale: str = "decimal(18,2)"):
    """Exact decimal sum rendered as double (engine-portable)."""
    return F.sum(col.cast(scale)).cast("double")


# --------------------------------------------------------------------------
# Relational core (proves scan/filter/agg/join/window/sort on TPC-H-ish data)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price, "decimal(24,8)").alias("sum_disc_price"),
            _dsum(charge, "decimal(24,8)").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,8))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp_ntz")
    )
    # customer is tiny vs lineitem: broadcast it so the orders⋈customer join
    # never shuffles the fact side on a 100 TB cluster.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(24,8)"
            ).alias("revenue")
        )
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate  > TIMESTAMP '1999-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(dims), (orders.o_custkey == dims.c_custkey)
              & (supp.s_nationkey == dims.c_nationkey))
        .groupBy("r_name", "n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(24,8)"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q5_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue per supplier over one quarter, then the
    supplier(s) achieving the MAX — the scalar-aggregate-as-filter
    pattern (a 1-row broadcast join, never a driver collect). Revenue
    compares as exact DECIMAL before the display cast, so the max-match
    is engine-portable (double equality is not)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") <= F.lit("1995-03-31"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,8)"
                )
            ).alias("_rev")
        )
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev["_rev"] == mx["_mx"])
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


Q15_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS r
  FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
"""


def q22_low_engagement_value_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape (adapted — the testdata has no phone country
    codes and every customer has orders): customers holding
    above-average balances but ordering BELOW the average order count —
    the capital-at-risk segment. Exercises TWO independent scalar
    thresholds (each an exact-decimal 1-row aggregate broadcast into the
    filter, never collected) + an aggregation join + a per-nation
    rollup."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    bal_thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_bal_thr")
    )
    oc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("_n_orders")
    )
    cnt_thr = oc.agg(
        (F.sum("_n_orders").cast("double") / F.count(F.lit(1))).alias(
            "_cnt_thr"
        )
    )
    picked = (
        cust.join(oc, cust["c_custkey"] == oc["o_custkey"])
        .crossJoin(F.broadcast(bal_thr))
        .crossJoin(F.broadcast(cnt_thr))
        .filter(
            (F.col("c_acctbal") > F.col("_bal_thr"))
            & (F.col("_n_orders") < F.col("_cnt_thr"))
        )
    )
    return (
        picked.join(
            F.broadcast(nation), picked["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_balance"),
            F.sum("_n_orders").cast("long").alias("total_orders"),
        )
    )


Q22_LOW_ENGAGEMENT_SQL = """
WITH bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS t
  FROM customer WHERE c_acctbal > 0
), oc AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey
), cnt AS (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS t FROM oc
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
       CAST(SUM(n) AS BIGINT) AS total_orders
FROM customer
JOIN oc ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN bal CROSS JOIN cnt
WHERE c_acctbal > bal.t AND n < cnt.t
GROUP BY n_name
"""


def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a join — customers whose single orders
    exceed 150 units total quantity."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


BIG_ORDERS_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
) b
JOIN orders ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer + nation."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(24,8)"
            ).alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned"),
        )
    )


RETURNED_ITEMS_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE)
         AS lost_revenue,
       COUNT(*) AS n_returned
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio — share of revenue
    from 'STANDARD'-type parts per month (single double division at the
    end; both sums exact decimal)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    monthly = joined.groupBy(
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
    ).agg(
        F.sum(
            F.when(F.col("p_type").startswith("STANDARD"), rev).otherwise(0.0).cast(
                "decimal(24,8)"
            )
        ).alias("_std"),
        F.sum(rev.cast("decimal(24,8)")).alias("_all"),
    )
    return monthly.select(
        "ship_year",
        "ship_month",
        (F.col("_std").cast("double") / F.col("_all").cast("double")).alias(
            "standard_share"
        ),
        F.col("_all").cast("double").alias("total_revenue"),
    )


PROMO_SHARE_SQL = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(SUM(CASE WHEN p_type LIKE 'STANDARD%'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
                ELSE CAST(0.0 AS DECIMAL(24,8)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE)
         AS standard_share,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


TOP_PARTS_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rnk
  FROM part
) t WHERE rnk <= 3
"""


_NS_PER_HOUR = 3_600_000_000_000


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream, bucketed in
    integer epoch-hours (tz-free; see _events)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


EVENTS_HOURLY_SQL = f"""
SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS hour_bucket, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# CDC domain (SURVEY.md §2.10): net-effect replay + diff as queries
# --------------------------------------------------------------------------


def cdc_net_effect_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat `events` as a CDC change log keyed by user_id: error ⇒ D,
    signup ⇒ I, anything else ⇒ U; event_id is the total order. The result
    is each user's final state — exercising operators/replay.net_effect."""
    ev = _events(spark, sf_dir)
    log = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("Op"),
        F.col("event_id").alias("_seq"),
    )
    return net_effect(log, ["user_id"])


CDC_NET_EFFECT_SQL = """
SELECT user_id, last_event_id, last_event_type, last_value FROM (
  SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
         value AS last_value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) t WHERE rn = 1 AND last_event_type <> 'error'
"""


def cdc_replay_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a LOAD + 2 CDC files from `orders` and replay: update
    totalprice (+10) for keys %7=0, then delete keys %13=0. Oracle states
    the expected final table directly — a semantic (not structural) check."""
    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    load = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("I").alias("Op"), F.col("o_orderkey").cast("long").alias("_seq"),
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            F.lit("U").alias("Op"),
            (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
        )
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.lit("D").alias("Op"),
            (stride * 2 + F.col("o_orderkey")).cast("long").alias("_seq"),
        )
    )
    return net_effect(load.unionByName(updates).unionByName(deletes), ["o_orderkey"])


CDC_REPLAY_ORDERS_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE o_orderkey % 13 <> 0
"""


def diff_rows_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff drill-down (the validator's core primitive): target is
    orders minus keys %997=0 with totalprice perturbed on keys %499=0;
    emit (key, side) for every divergent row via keyed-hash anti-joins."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    src = _t(spark, sf_dir, "orders").select(*cols)
    tgt = (
        src.filter(F.col("o_orderkey") % 997 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 499 == 0, F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice")),
        )
    )
    s_h = src.withColumn("_h", row_digest(src, cols))
    t_h = tgt.withColumn("_h", row_digest(tgt, cols))
    keys = ["o_orderkey", "_h"]
    only_src = s_h.join(t_h, keys, "left_anti").select(
        "o_orderkey", F.lit("source_only").alias("side")
    )
    only_tgt = t_h.join(s_h, keys, "left_anti").select(
        "o_orderkey", F.lit("target_only").alias("side")
    )
    return only_src.unionByName(only_tgt)


DIFF_DRILLDOWN_SQL = """
SELECT o_orderkey, 'source_only' AS side FROM orders
WHERE o_orderkey % 997 = 0 OR o_orderkey % 499 = 0
UNION ALL
SELECT o_orderkey, 'target_only' AS side FROM orders
WHERE o_orderkey % 499 = 0 AND o_orderkey % 997 <> 0
"""


def diff_chunk_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-ordered POSITION chunking — reference-parity demo of pgdatadiff's
    exact chunk semantics (chunk_size=1000 default, main.rs:75-77). The
    global window is intentionally single-partition here (the semantics
    require a total order); the production diff operator uses PK-range
    chunks instead (operators/diff.py, diff_chunk_digest). A size guard
    refuses inputs where a single-partition sort would be pathological —
    the parquet count is metadata-only, so the guard is ~free."""
    orders = _t(spark, sf_dir, "orders")
    n = orders.count()
    if n > 50_000_000:
        raise ValueError(
            f"diff_chunk_layout is a single-partition total-order demo; "
            f"{n} rows exceed its 50M guard — use diff_chunk_digest "
            f"(PK-range chunks, fully parallel) for production diffs"
        )
    w = Window.orderBy("o_orderkey")
    return (
        orders.select("o_orderkey")
        .withColumn("chunk_id", F.floor((F.row_number().over(w) - 1) / 1000))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


DIFF_CHUNK_SQL = """
SELECT chunk_id, COUNT(*) AS n_rows, MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM (
  SELECT o_orderkey,
         CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 1000) AS BIGINT) AS chunk_id
  FROM orders
) t GROUP BY chunk_id
"""


# --------------------------------------------------------------------------
# Training-data pipeline operators: dedup / text analysis / similarity
# --------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS copies
FROM documents GROUP BY text
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_alpha_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
    no_space = F.length(F.regexp_replace(F.col("text"), " ", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        n_alpha_tokens.alias("n_alpha_tokens"),
        (no_space / n_tokens).alias("mean_token_len"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       LEN(string_split(text, ' ')) AS n_tokens,
       LEN(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
       LENGTH(replace(text, ' ', '')) / LEN(string_split(text, ' ')) AS mean_token_len
FROM documents
"""

_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring with fully portable arithmetic: length term,
    stopword term, combined score (punctuation omitted here: testdata text
    is punctuation-free; the richer scorer lives in functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    sw_ratio = n_sw / F.size(toks)
    length_term = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(sw_ratio * 3, F.lit(1.0))
    return docs.select(
        "doc_id",
        n_sw.alias("n_stopwords"),
        length_term.alias("length_term"),
        ((length_term + sw_term) / 2).alias("quality"),
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       LEN(list_filter(string_split(text, ' '),
                       t -> list_contains([{_SW_LIST}], t))) AS n_stopwords,
       LEAST(LENGTH(text) / 500.0, 1.0) AS length_term,
       (LEAST(LENGTH(text) / 500.0, 1.0) +
        LEAST(3 * (LEN(list_filter(string_split(text, ' '),
                       t -> list_contains([{_SW_LIST}], t))) * 1.0 / LEN(string_split(text, ' '))),
              1.0)) / 2 AS quality
FROM documents
"""


def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    has_the = F.when(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")).contains(" the "), 1
    ).otherwise(0)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") / F.count(F.lit(1))).alias("mean_chars"),
        F.sum(has_the).alias("n_with_the"),
    )


LANG_PROFILE_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS BIGINT) / COUNT(*) AS mean_chars,
       CAST(SUM(CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_the
FROM documents GROUP BY lang
"""


def ngram_jaccard_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc count of near-dup partners (3-word-shingle Jaccard ≥ 0.5)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.5)
    # each pair contributes a partner to BOTH ids — explode, not a union
    # of two selects (that would run the shingle self-join twice)
    both = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("doc_id")
    )
    return both.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_partners"))


NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
  FROM toks WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) < 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.5
)
SELECT doc_id, COUNT(*) AS n_partners FROM (
  SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
) t GROUP BY doc_id
"""


def knn_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest neighbor per embedding (brute-force cosine baseline).

    Self-join form: the whole table rides the broadcast query side, which is
    only safe while it fits the driver — brute_force_topk enforces its
    max_broadcast_queries budget and raises beyond it; the scale path for
    full-corpus self-kNN is ann_lsh_top1 / ann_ivf_top1."""
    emb = _t(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, emb, id_col="vec_id", vec_col="embedding", k=1)
    return top.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.round(F.col("cos_sim"), 6).alias("cos_sim_r"),
    )


KNN_TOP1_SQL = """
WITH normed AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) AS cos_sim
  FROM normed a JOIN normed b ON a.vec_id <> b.vec_id
)
SELECT vec_id, nn_id, ROUND(cos_sim, 6) AS cos_sim_r FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, nn_id) AS rn
  FROM scored
) t WHERE rn = 1
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents.text encoded as an opaque payload,
    pushed through the Arrow-batched mapInPandas feature extractor (decode
    stage stubbed — see operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = media_features(media)
    return feats.select("media_id", "n_bytes", "content_sha256")


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
"""


def orders_except_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set op (EXCEPT ALL): full orders minus a filtered copy —
    the validator's 'rows in A not in B' primitive as a first-class query."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    subset = orders.filter(F.col("o_orderkey") % 3 != 0)
    return orders.exceptAll(subset)


ORDERS_EXCEPT_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
EXCEPT ALL
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
"""


def active_customer_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op INTERSECT: customer keys that also appear as event users."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id")
    )
    users = _events(spark, sf_dir).select(F.col("user_id").alias("entity_id"))
    return cust.intersect(users)


ACTIVE_CUSTOMER_IDS_SQL = """
SELECT c_custkey AS entity_id FROM customer
INTERSECT
SELECT user_id AS entity_id FROM events
"""


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (multi-level grouping in one pass)."""
    ev = _events(spark, sf_dir)
    day = F.expr(f"ts_ns div {24 * _NS_PER_HOUR}").alias("day_bucket")
    return (
        ev.rollup(day, F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             _dsum(F.col("value")).alias("sum_value"))
    )


EVENTS_ROLLUP_SQL = f"""
SELECT epoch_ns(ts) // {24 * _NS_PER_HOUR} AS day_bucket, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (day_bucket, event_type)
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-minute gap per user
    (lag window + running sum — the batch form of session windows)."""
    ev = _events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    gap_us = 30 * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts_us")
    sess = (
        ev.withColumn("_prev", F.lag("ts_us").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("ts_us") - F.col("_prev") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("_new").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


# microsecond precision: DuckDB's TIMESTAMP coerces the parquet NANOS
# column to µs on read, so both engines bucket on µs.
EVENTS_SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
), sess AS (
  SELECT user_id, ts_us,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
FROM sess GROUP BY user_id, session_id
"""


def diff_chunk_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk content digests over PK-RANGE chunks of orders (keyspans of
    1000) — the production diff design (operators/diff.py): no global sort,
    fully parallel, chunks aligned across tables by key value. Digests are
    engine-portable md5 min/max + count."""
    orders = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
    )
    return (
        orders.select(
            F.expr("o_orderkey div 1000").alias("chunk_id"),
            F.md5(row_str).alias("_h"),
        )
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_h").alias("min_digest"),
            F.max("_h").alias("max_digest"),
        )
    )


DIFF_CHUNK_DIGEST_SQL = """
SELECT o_orderkey // 1000 AS chunk_id, COUNT(*) AS n_rows,
       MIN(h) AS min_digest, MAX(h) AS max_digest
FROM (
  SELECT o_orderkey,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
             || '|' || o_orderstatus) AS h
  FROM orders
) t GROUP BY 1
"""


def docs_quality_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate pipeline: keep docs with >=2 stopwords and >=150 chars,
    report survivor counts per (lang, source) — the filter stage of a
    training-data pipeline."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    kept = docs.filter((n_sw >= 2) & (F.length("text") >= 150))
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


DOCS_QUALITY_FILTERED_SQL = f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents
WHERE LEN(list_filter(string_split(text, ' '),
                      t -> list_contains([{_SW_LIST}], t))) >= 2
  AND LENGTH(text) >= 150
GROUP BY lang, source
"""


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram: top 100 tokens by frequency (tie-break on
    token) — explode + count, the vocabulary-building primitive."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = tok.filter(F.col("token") != "").groupBy("token").agg(
        F.count(F.lit(1)).alias("freq")
    )
    # Top-k FIRST (orderBy+limit → TakeOrderedAndProject, a parallel partial
    # top-k with no global sort), THEN rank the 100 survivors. Round 1 ranked
    # the whole vocabulary through a global Window.orderBy — a
    # single-partition sort of every distinct token (VERDICT r1 #3).
    top = counts.orderBy(F.col("freq").desc(), F.col("token")).limit(100)
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return top.withColumn("rnk", F.row_number().over(w))


TOKEN_FREQUENCIES_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, freq, rnk FROM (
  SELECT token, freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
  FROM counts
) x WHERE rnk <= 100
"""


def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: count + exact-decimal sum of L2 norms
    (per-row norm is IEEE-deterministic; the cross-row sum goes through
    decimal for engine portability)."""
    from rust_cdc_validator_spark.functions.vectors import norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.round(norm(F.col("embedding")), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_norm_r"),
    )


EMBEDDING_LABEL_STATS_SQL = """
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(ROUND(sqrt(list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_norm_r
FROM embeddings GROUP BY label
"""


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of orders (nulls / distinct /
    min / max in one pass) — operators/corpus.profile_table."""
    from rust_cdc_validator_spark.operators.corpus import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        approx=False,  # oracle compares exact distinct counts
    )


ORDERS_PROFILE_SQL = """
SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
"""


def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-prep pipeline: quality gate → normalized exact dedup
    → per-doc stats (operators/corpus.prepare_training_corpus)."""
    from rust_cdc_validator_spark.operators.corpus import prepare_training_corpus

    docs = _t(spark, sf_dir, "documents")
    return prepare_training_corpus(docs, min_chars=100, min_stopwords=1)


TRAINING_CORPUS_SQL = f"""
WITH gated AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm
  FROM documents
  WHERE LENGTH(text) >= 100
    AND LEN(list_filter(string_split(text, ' '),
                        t -> list_contains([{_SW_LIST}], t))) >= 1
), keepers AS (
  SELECT norm, MIN(doc_id) AS keeper FROM gated GROUP BY norm
)
SELECT g.doc_id,
       LENGTH(g.text) AS n_chars,
       LEN(string_split(g.text, ' ')) AS n_tokens,
       LEN(list_filter(string_split(g.text, ' '),
                       t -> list_contains([{_SW_LIST}], t))) AS n_stopwords
FROM gated g JOIN keepers k ON g.norm = k.norm AND g.doc_id = k.keeper
"""


def sample_bucket_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/8 systematic sample keyed on doc_id (md5-digit
    buckets — reproducible across runs, engines, partitionings)."""
    from rust_cdc_validator_spark.operators.corpus import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", rate_buckets=8).select(
        "doc_id", "lang", "source"
    )


SAMPLE_BUCKET_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE (strpos('0123456789abcdef',
              substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 = 0
"""


def contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source <> 'src0') sharing
    any 8-gram with the benchmark set (source = 'src0')."""
    from rust_cdc_validator_spark.operators.corpus import contamination_check

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return contamination_check(train, bench, shingle_n=8)


CONTAMINATION_SQL = """
WITH sh AS (
  SELECT doc_id, source, unnest(list_distinct(
           list_transform(range(1, len(t) - 6),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS s
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 8
  UNION ALL
  SELECT doc_id, source, array_to_string(t, ' ') AS s
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) < 8
)
SELECT a.doc_id,
       COUNT(DISTINCT a.s) AS n_contaminated_shingles,
       COUNT(DISTINCT b.doc_id) AS n_benchmark_docs_hit
FROM sh a JOIN sh b ON a.s = b.s
WHERE a.source <> 'src0' AND b.source = 'src0'
GROUP BY a.doc_id
"""


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: shard docs (md5, portable),
    assign each to a fixed-token-budget pack by cumulative offset
    (operators/corpus.pack_sequences), report per-pack fill. One shuffle +
    one per-shard sort — groupBy cost class at any scale."""
    from rust_cdc_validator_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    packs = pack_sequences(docs, budget=512, shards=8)
    return packs.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


PACKED_SEQUENCES_SQL = """
WITH toks AS (
  SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens,
         (strpos('0123456789abcdef',
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS shard
  FROM documents
), offs AS (
  SELECT shard, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM toks
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(FLOOR(start_off / 512.0) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM offs GROUP BY shard, pack_id
"""


def domain_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain representation cap: keep the 10 largest docs per source
    (operators/corpus.cap_per_domain) — the anti-overrepresentation gate in
    web-corpus curation."""
    from rust_cdc_validator_spark.operators.corpus import cap_per_domain

    docs = _t(spark, sf_dir, "documents")
    return cap_per_domain(docs, "source", k=10, order_col="n_chars").select(
        "doc_id", "source", "n_chars", "domain_rank"
    )


DOMAIN_CAPPED_SQL = """
SELECT doc_id, source, n_chars, domain_rank FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS domain_rank
  FROM documents
) WHERE domain_rank <= 10
"""


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: deterministic per-language sampling rates
    (operators/corpus.stratified_sample) — e.g. keep all German, half of
    English, a twentieth of Chinese. Map-side filter, no shuffle."""
    from rust_cdc_validator_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1, "zh": 0.05}
    return stratified_sample(docs, "lang", rates).select("doc_id", "lang", "source")


STRATIFIED_SAMPLE_SQL = """
WITH b AS (
  SELECT doc_id, lang, source,
         ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) AS bucket
  FROM documents
)
SELECT doc_id, lang, source FROM b
WHERE bucket < CASE lang WHEN 'de' THEN 4096 WHEN 'en' THEN 2048
                         WHEN 'fr' THEN 1024 WHEN 'es' THEN 409
                         WHEN 'zh' THEN 204 ELSE 0 END
"""


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 top-25 for a 3-term query
    (operators/retrieval.bm25_topk). The catalog variant uses the monotone
    non-log idf so DuckDB replays the scores bit-exactly (ln differs in the
    last ulp across libm implementations; see retrieval.py docstring).
    Shuffle volume is matching postings only — query terms are filtered
    from each doc's token array map-side, before any exchange."""
    from rust_cdc_validator_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, ["spark", "join", "filter"], k=25, log_idf=False
    )


BM25_SEARCH_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(arr)) AS avgdl FROM d
), m AS (
  SELECT doc_id, len(arr) AS dl, unnest(arr) AS tok FROM d
), tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM m
  WHERE tok IN ('spark', 'join', 'filter')
  GROUP BY doc_id, dl, tok
), dfq AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id,
         ((n_docs - df + 0.5) / (df + 0.5))
         * (tf * (1.2 + 1.0))
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
  FROM tf JOIN dfq USING (tok) CROSS JOIN stats
)
SELECT doc_id, SUM(s) AS bm25, COUNT(*) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 25
"""


def hybrid_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion (operators/retrieval.py:rrf_fuse,
    Cormack et al. 2009) of the BM25 lexical top-25 (same query terms as
    bm25_search_docs) with the cosine top-25 around the vec_id=0 embedding
    (doc_id ≡ vec_id in the testdata). Rank-only fusion — no score
    calibration — with ≤2 reciprocal terms per doc, so both engines sum
    bit-identically (IEEE two-term addition is commutative-exact)."""
    from rust_cdc_validator_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, ["spark", "join", "filter"], k=25, log_idf=False)
    w_bm = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    bm_ranked = bm.withColumn("rank", F.row_number().over(w_bm))
    kn = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=25, include_self=False
    ).select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    w_kn = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    kn_ranked = kn.withColumn("rank", F.row_number().over(w_kn))
    return rrf_fuse([bm_ranked, kn_ranked], id_col="doc_id").select(
        "doc_id", F.round("rrf_score", 6).alias("rrf_score_r"), "n_lists", "rank"
    )


HYBRID_SEARCH_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(arr)) AS avgdl FROM d
), m AS (
  SELECT doc_id, len(arr) AS dl, unnest(arr) AS tok FROM d
), tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM m
  WHERE tok IN ('spark', 'join', 'filter')
  GROUP BY doc_id, dl, tok
), dfq AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), bm_scored AS (
  SELECT tf.doc_id,
         ((n_docs - df + 0.5) / (df + 0.5))
         * (tf * (1.2 + 1.0))
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
  FROM tf JOIN dfq USING (tok) CROSS JOIN stats
), bm AS (
  SELECT doc_id, SUM(s) AS bm25 FROM bm_scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT 25
), bm_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm
), normed AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), kn AS (
  SELECT b.vec_id AS doc_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) AS cos_sim
  FROM normed a JOIN normed b ON b.vec_id <> 0
  WHERE a.vec_id = 0
  ORDER BY cos_sim DESC, doc_id LIMIT 25
), kn_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
  FROM kn
), contrib AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM bm_ranked
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM kn_ranked
), fused AS (
  SELECT doc_id, SUM(c) AS rrf_score, COUNT(*) AS n_lists
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, ROUND(rrf_score, 6) AS rrf_score_r, n_lists,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM fused
"""


def events_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucketed range join (operators/rangejoin.py): for
    each purchase, count same-user events within ±120 s. The naive
    BETWEEN-join is a nested-loop plan; bucketing turns it into an ordinary
    equi-join on (user, time-bucket) plus an exact filter."""
    from rust_cdc_validator_spark.operators.rangejoin import range_join

    delta_us = 120_000_000
    ev = _events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    points = ev.select(
        "user_id",
        F.col("event_id").alias("nearby_event_id"),
        F.col("event_type").alias("nearby_type"),
        F.col("ts_us").alias("ev_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        (F.col("ts_us") - delta_us).alias("lo"),
        (F.col("ts_us") + delta_us).alias("hi"),
    )
    joined = range_join(
        points, purchases, "ev_ts", "lo", "hi",
        bucket_width=delta_us, equality_keys=["user_id"],
    )
    return (
        joined.filter(F.col("nearby_event_id") != F.col("purchase_event_id"))
        .groupBy("purchase_event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearby"),
            F.sum(
                F.when(F.col("nearby_type") == "click", 1).otherwise(0)
            ).alias("n_nearby_clicks"),
        )
    )


EVENTS_PURCHASE_WINDOW_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
)
SELECT p.event_id AS purchase_event_id, p.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_nearby,
       CAST(SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nearby_clicks
FROM ev p JOIN ev e ON p.user_id = e.user_id
  AND e.ts_us BETWEEN p.ts_us - 120000000 AND p.ts_us + 120000000
  AND e.event_id <> p.event_id
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


# --------------------------------------------------------------------------
# Hash-sketch operators (xxhash64-based — no SQL oracle; driver rows-only)
# --------------------------------------------------------------------------


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=32, num_bands=8, min_est_jaccard=0.5
    ).orderBy("id_a", "id_b")


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup_candidates(docs, "text", "doc_id", max_hamming=8).orderBy(
        "id_a", "id_b"
    )


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (groupBy().pivot())."""
    ev = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


EVENTS_PIVOT_SQL = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY user_id
"""


def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations in
    one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(F.col("l_quantity")).alias("sum_qty"),
    )


LINEITEM_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average) —
    Catalyst decorrelates it into an aggregate + join."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li")
    return spark.sql("""
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS small_qty_revenue,
               COUNT(*) AS n_small
        FROM __li outer_li
        WHERE l_quantity < (SELECT 0.5 * AVG(inner_li.l_quantity)
                            FROM __li inner_li
                            WHERE inner_li.l_partkey = outer_li.l_partkey)
        GROUP BY l_partkey
    """)


SMALL_QTY_REVENUE_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_qty_revenue,
       COUNT(*) AS n_small
FROM lineitem outer_li
WHERE l_quantity < (SELECT 0.5 * AVG(inner_li.l_quantity)
                    FROM lineitem inner_li
                    WHERE inner_li.l_partkey = outer_li.l_partkey)
GROUP BY l_partkey
"""


def orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + monthly rollup (scalar date functions F4)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


ORDERS_MONTHLY_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1, 2
"""


def string_functions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface: case, substring, replace, length,
    concat, levenshtein — all JVM built-ins."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 4).alias("name_prefix"),
        F.regexp_replace("c_name", "_", "-").alias("name_dashed"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("seg_name"),
        F.levenshtein(F.lower("c_name"), F.lower("c_mktsegment")).alias("lev_to_segment"),
    )


STRING_FUNCS_SQL = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       SUBSTRING(c_name, 1, 4) AS name_prefix,
       REPLACE(c_name, '_', '-') AS name_dashed,
       LENGTH(c_name) AS name_len,
       c_mktsegment || '/' || c_name AS seg_name,
       levenshtein(LOWER(c_name), LOWER(c_mktsegment)) AS lev_to_segment
FROM customer
"""


def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile aggregates per return flag — median,
    p90, p99 (both engines use linear interpolation; values match
    bit-for-bit). Exact-by-contract for the oracle; exact percentile is a
    sort-buffer aggregate (each group's values materialized in executor
    memory), so the production surface for this shape is
    ``operators.corpus.percentile_profile``, which auto-switches to the
    constant-memory ``approx_percentile`` sketch above a bounded-probe
    row threshold (this query ≡ ``percentile_profile(li, approx=False)``,
    pinned equivalent in ``tests/test_corpus.py``)."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE array-valued percentile aggregate for the price column — two
    # scalar F.percentile calls are two independent sort-buffer
    # aggregates that each materialize every group's l_extendedprice
    # values (measured 1.5× this query at sf0.1); the array form buffers
    # the column once and reads both ranks off it (the same shape
    # operators/corpus.percentile_profile uses).
    agg = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.9), F.lit(0.99))
        ).alias("_p"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        "l_returnflag",
        "med_qty",
        F.col("_p")[0].alias("p90_price"),
        F.col("_p")[1].alias("p99_price"),
        "n_items",
    )


QUANTITY_PERCENTILES_SQL = """
SELECT l_returnflag,
       median(l_quantity) AS med_qty,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       quantile_cont(l_extendedprice, 0.99) AS p99_price,
       COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery (Catalyst rewrites to an anti join): customers that
    never placed an order."""
    cust = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("__cust")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__ord")
    return spark.sql("""
        SELECT c_custkey, c_name FROM __cust
        WHERE c_custkey NOT IN (SELECT o_custkey FROM __ord
                                WHERE o_orderpriority = '1-URGENT')
    """)


CUSTOMERS_NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
"""


def customer_balance_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function breadth: ntile quartiles, percent_rank, cume_dist,
    first/last value over frames — per market segment on account balance."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(wf).alias("poorest_in_segment"),
        F.last("c_custkey").over(wf).alias("richest_in_segment"),
    )


CUSTOMER_BALANCE_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(4) OVER w AS balance_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(c_custkey) OVER wf AS poorest_in_segment,
       last_value(c_custkey) OVER wf AS richest_in_segment
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: MinHash+LSH → connected components →
    per-doc cluster keeper (iterative — rows-only check)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_clusters(docs, "text", "doc_id", num_hashes=32, num_bands=8)


def top_orders_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (TakeOrderedAndProject): top 25 orders by
    totalprice, deterministic tie-break on key."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


TOP_ORDERS_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


_IVFPQ_INDEX_CACHE: dict[str, str] = {}


def _ivfpq_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the IVF-PQ index
    ``ann_ivfpq_top1`` probes — build-once/probe-many, same contract as
    the MinHash/LSH index queries."""
    idx = _IVFPQ_INDEX_CACHE.get(sf_dir)
    if idx is None:
        import tempfile

        from rust_cdc_validator_spark.operators.pq import build_ivfpq_index

        idx = tempfile.mkdtemp(prefix="ivfpq_index_") + "/idx"
        emb = _t(spark, sf_dir, "embeddings")
        build_ivfpq_index(emb, idx, n_cells=16, m=8, seed=42)
        _IVFPQ_INDEX_CACHE[sf_dir] = idx
    return idx


def ann_ivfpq_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.py, Jégou et al. 2011): partition-pruned
    8-byte-code probe + exact re-rank — the bytes-at-scale path of the ANN
    family (codes are ~64× smaller than the float64 vectors the plain IVF
    probe scans). Returned cosines are EXACT (re-ranked); candidate
    selection is the approximate part. Rows-only (KMeans/PQ sketch, no SQL
    oracle); golden-pinned."""
    from rust_cdc_validator_spark.operators.pq import ivfpq_topk_from_index

    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivfpq_index_for(spark, sf_dir)
    top = ivfpq_topk_from_index(
        spark, idx, emb, k=1, n_probe=4, refine_factor=8
    )
    return top.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.round(F.col("cos_sim"), 6).alias("cos_sim_r"),
    )


def ann_ivf_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the other scale path besides LSH)."""
    from rust_cdc_validator_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    top = ivf_topk(emb, emb, k=1, n_cells=16, n_probe=4)
    return top.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.round(F.col("cos_sim"), 6).alias("cos_sim_r"),
    )


def ann_lsh_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    top = lsh_bucket_topk(
        emb, emb, dim=64, id_col="vec_id", vec_col="embedding", k=1,
        num_planes=6, num_tables=8,
    )
    return top.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        F.round(F.col("cos_sim"), 6).alias("cos_sim_r"),
    )


def customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence predicates as semi/anti joins: customers with at least one
    urgent order but no error event — EXISTS/NOT EXISTS, the join forms the
    validator's drill-down is built from."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    err_users = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    with_urgent = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    )
    return with_urgent.join(
        err_users, with_urgent.c_custkey == err_users.user_id, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


CUSTOMERS_SEMI_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM events
                  WHERE user_id = c_custkey AND event_type = 'error')
"""


def supplier_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows beyond ranking: lag deltas and running sums per
    supplier over ship dates (frame-spec window coverage)."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").alias("ship_date")
    ).agg(_dsum(F.col("l_quantity")).alias("day_qty"))
    w = Window.partitionBy("l_suppkey").orderBy("ship_date")
    return daily.select(
        "l_suppkey",
        "ship_date",
        "day_qty",
        F.sum("day_qty").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "running_qty"
        ),
        (F.col("day_qty") - F.lag("day_qty", 1).over(w)).alias("qty_delta"),
        F.row_number().over(w).alias("day_rank"),
    )


SUPPLIER_RUNNING_SQL = """
WITH daily AS (
  SELECT l_suppkey, l_shipdate AS ship_date,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS day_qty
  FROM lineitem GROUP BY l_suppkey, l_shipdate
)
SELECT l_suppkey, ship_date, day_qty,
       SUM(day_qty) OVER (PARTITION BY l_suppkey ORDER BY ship_date
                          ROWS UNBOUNDED PRECEDING) AS running_qty,
       day_qty - lag(day_qty, 1) OVER (PARTITION BY l_suppkey ORDER BY ship_date)
         AS qty_delta,
       row_number() OVER (PARTITION BY l_suppkey ORDER BY ship_date) AS day_rank
FROM daily
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (winnowing-lite): min hash over
    8-token shingles, grouped to expose collision clusters — the cheap
    first-pass dup triage before MinHash. This catalog variant uses md5 so
    DuckDB can replay it; the production column (functions/text.fingerprint)
    is JVM xxhash64, same shape."""
    from rust_cdc_validator_spark.functions.text import word_shingles

    docs = _t(spark, sf_dir, "documents")
    fp = F.array_min(
        F.transform(word_shingles(F.col("text"), 8), lambda s: F.md5(s))
    )
    per_doc = docs.select(F.col("doc_id"), fp.alias("fp"))
    return per_doc.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_id"),
    )


DOC_FINGERPRINTS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(text), ' '), t -> t <> '') AS tk
  FROM documents
), fps AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 8 THEN
           list_min(list_transform(range(1, len(tk) - 8 + 2),
                                   i -> md5(array_to_string(tk[i:i+7], ' '))))
         ELSE md5(array_to_string(tk, ' ')) END AS fp
  FROM toks
)
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM fps GROUP BY fp
"""


def embedding_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH candidates + exact
    verification) — the vector-space sibling of minhash_near_dup.
    Approximate candidate generation → rows-only check (no SQL oracle).
    The testdata embeddings are near-uniform (max pairwise cosine ≈ 0.51),
    so the threshold is set where the data has mass; real embedding
    near-dup corpora run this at ≥ 0.95."""
    from rust_cdc_validator_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.45,
        dim=64, num_planes=6, num_tables=8,
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim_r"))


def training_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full composed prep a training pipeline runs: quality gate →
    exact dedup (hashed) → MinHash near-dup cluster removal (keep min-id
    root) → per-doc stats (operators/corpus.py:
    prepare_training_corpus_neardup). Rows-only (MinHash sketch — no SQL
    oracle), golden-pinned at sf0.001."""
    from rust_cdc_validator_spark.operators.corpus import (
        prepare_training_corpus_neardup,
    )

    docs = _t(spark, sf_dir, "documents")
    return prepare_training_corpus_neardup(docs, min_chars=100, min_stopwords=1)


def docs_lsh_planned_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-driven near-dup pass (operators/dedup.lsh_plan →
    minhash_near_dup_pairs): pick (bands, rows-per-band) for a 0.7 target
    Jaccard from the S-curve — NOT a hand-tuned constant — then run the
    banded join with exactly that split and report the predicted
    false-positive / false-negative trade (collision probability at the
    threshold, 0.2 below it, and the MISS probability 0.2 above it)
    alongside the measured pair count, an id-sum fingerprint, and the
    mean estimated Jaccard. One row; a regression in either the planner's
    arithmetic or the banded join moves the golden. Rows-only (MinHash
    sketch — no SQL oracle); the planner itself is exhaustively
    unit-tested in test_dedup.py."""
    from rust_cdc_validator_spark.operators.dedup import (
        lsh_plan,
        minhash_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    threshold = 0.7
    plan = lsh_plan(threshold, num_hashes=64)
    pairs = minhash_near_dup_pairs(
        docs,
        "text",
        "doc_id",
        num_hashes=64,
        num_bands=int(plan["num_bands"]),
        min_est_jaccard=threshold,
    )
    summary = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.col("id_a") + F.col("id_b")), F.lit(0))
        .cast("long")
        .alias("pair_id_sum"),
        F.round(F.coalesce(F.avg("est_jaccard"), F.lit(0.0)), 6).alias(
            "mean_est_jaccard"
        ),
    )
    return summary.select(
        F.lit(int(plan["num_bands"])).cast("int").alias("num_bands"),
        F.lit(int(plan["rows_per_band"])).cast("int").alias("rows_per_band"),
        F.lit(float(plan["inflection"])).alias("inflection"),
        F.lit(float(plan["p_at_threshold"])).alias("p_collide_at_t"),
        F.lit(float(plan["p_below"])).alias("p_fp_below_t"),
        F.round(F.lit(1.0 - float(plan["p_above"])), 6).alias("p_miss_above_t"),
        "n_pairs",
        "pair_id_sum",
        "mean_est_jaccard",
    )


def embedding_near_dup_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup contract as embedding_near_dup_docs through the
    NARROW pair-generation strategy (operators/similarity.py:
    lsh_near_dup_pairs): memberships without vector payload, pair dedup
    across tables, vectors join once per unique pair for the exact verify.
    In the sparse-duplicate regime — every query has <50 above-threshold
    neighbors (the wide path's top-k truncation) and no LSH bucket hits
    either path's population cap — identical planes/seed/threshold give
    identical pairs to the wide path (equivalence-tested on exactly that
    regime); beyond those caps the two paths diverge by design (the wide
    path truncates per-query, this one caps per-bucket). Registered
    separately so the driver exercises the at-scale candidate strategy
    too. Rows-only (LSH, no SQL oracle)."""
    from rust_cdc_validator_spark.operators.similarity import lsh_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.45,
        dim=64, num_planes=6, num_tables=8,
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim_r"))


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/corpus.py:chunk_documents):
    ≤32-token chunks, 8 tokens of overlap — the pre-encoding split every
    embedding/retrieval pipeline runs. Map-side fan-out, zero shuffle."""
    from rust_cdc_validator_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=32, overlap=8)


DOC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk,
         unnest(range(1, GREATEST(1, len(tk) - 8) + 1, 24)) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) / 24 AS INT) AS chunk_idx,
       CAST(len(list_slice(tk, start, start + 31)) AS INT) AS chunk_tokens,
       array_to_string(list_slice(tk, start, start + 31), ' ') AS chunk_text
FROM s
"""


def docs_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (operators/corpus.py:clean_lines). The
    synthetic docs are single-line, so the dedup arm is degenerate here
    (multi-line fixtures cover it in test_corpus.py) and the word-count
    bound is set to 40 so the keep/drop decision varies across the
    corpus's 10-99-word docs."""
    from rust_cdc_validator_spark.operators.corpus import clean_lines

    docs = _t(spark, sf_dir, "documents")
    return clean_lines(docs, min_words=40).select(
        "doc_id", "n_lines", "n_lines_kept", "text_clean"
    )


DOCS_CLEAN_LINES_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
), idx AS (
  SELECT doc_id, lines,
         list_filter(range(1, len(lines) + 1),
                     i -> list_position(lines, lines[i]) = i) AS first_idx
  FROM base
), kept AS (
  SELECT doc_id, lines,
         list_filter(first_idx,
                     i -> len(list_filter(
                            string_split_regex(trim(lines[i]), '\\s+'),
                            w -> w <> '')) >= 40) AS keep_idx
  FROM idx
)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(keep_idx) AS INT) AS n_lines_kept,
       COALESCE(array_to_string(list_transform(keep_idx, i -> lines[i]), chr(10)), '') AS text_clean
FROM kept
"""


_BPE_MERGES_CACHE: dict[str, list] = {}


def _bpe_merges_for(spark: SparkSession, sf_dir: str, num_merges: int = 16):
    """Train (once per sf_dir per process) the 16-round BPE merge table
    both BPE queries consume — the tokenizer analog of the index caches:
    a tokenizer is TRAINED once and applied everywhere, so the repeated
    measurement steady state is the apply path, with training paid at
    bench warm-up. Safe to memoize: the deterministic tie-break makes
    the table partitioning-invariant (pytest-pinned)."""
    key = f"{sf_dir}:{num_merges}"
    merges = _BPE_MERGES_CACHE.get(key)
    if merges is None:
        from rust_cdc_validator_spark.operators.bpe import train_bpe

        docs = _t(spark, sf_dir, "documents")
        merges = train_bpe(docs, num_merges=num_merges)
        _BPE_MERGES_CACHE[key] = merges
    return merges


def bpe_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (arXiv:1508.07909) on documents: the
    ordered merge table from 16 rounds. Iterative (one vocabulary-sized
    pair-count aggregation per round — the corpus is scanned once) — no
    SQL oracle; rows-only with a seeded golden. Deterministic tie-break
    (count desc, pair asc) makes the table partitioning-invariant."""
    merges = _bpe_merges_for(spark, sf_dir, num_merges=16)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).orderBy("rank")


def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169) scoring the training pool
    (source <> 'src0') against the src0 docs as the target distribution —
    the same benchmark-vs-pool split contamination_docs uses. Hashed
    unigram models with 256 md5 buckets so the oracle rebuilds each bucket
    with strpos arithmetic; weights rounded to 6 (both engines sum ~50-100
    similar-magnitude doubles — identical to >10 significant digits)."""
    from rust_cdc_validator_spark.operators.corpus import importance_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    w = importance_weights(raw, target, buckets=256)
    return w.select(
        "doc_id", "n_tokens", F.round("log_weight", 6).alias("log_weight_r")
    )


DSIR_IMPORTANCE_SQL = """
WITH tok AS (
  SELECT doc_id, source, lower(unnest(string_split_regex(text, '\\s+'))) AS tok
  FROM documents
), tb AS (
  SELECT doc_id, source,
         ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5(tok), 3, 1)) - 1)) % 256 AS b
  FROM tok WHERE tok <> ''
), ct AS (
  SELECT b, COUNT(*) AS c FROM tb WHERE source = 'src0' GROUP BY b
), cr AS (
  SELECT b, COUNT(*) AS c FROM tb WHERE source <> 'src0' GROUP BY b
), grid AS (
  SELECT COALESCE(ct.b, cr.b) AS b,
         COALESCE(ct.c, 0) AS tc, COALESCE(cr.c, 0) AS rc
  FROM ct FULL OUTER JOIN cr ON ct.b = cr.b
), tot AS (
  SELECT SUM(tc) AS nt, SUM(rc) AS nr FROM grid
), ratio AS (
  SELECT b,
         ln((tc + 0.5) / (nt + 0.5 * 256)) - ln((rc + 0.5) / (nr + 0.5 * 256)) AS lr
  FROM grid, tot
)
SELECT tb.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(ratio.lr), 6) AS log_weight_r
FROM tb JOIN ratio ON tb.b = ratio.b
WHERE tb.source <> 'src0'
GROUP BY tb.doc_id
"""


def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, arXiv:2112.11446
    A1.1) over documents: the nine published signals plus the composed
    keep flag. Pure map-side JVM expressions — the whole query is one scan
    with zero shuffle (ordering aside). The synthetic docs are single-line,
    so the line-structure signals are exercised degenerately here and
    non-degenerately in tests/test_text_multimodal.py's planted multi-line
    fixtures. The synthetic vocabulary carries only one GOPHER_STOPWORDS
    token ("the") and docs run 10-99 words, so the keep flag here relaxes
    exactly two bounds (distinct_stopwords >= 1, word_count >= 40) to give
    the flag variance on this corpus; all other bounds are the published
    defaults."""
    from rust_cdc_validator_spark.functions.text import gopher_keep, gopher_signals

    docs = _t(spark, sf_dir, "documents")
    sig = docs.select("doc_id", gopher_signals(F.col("text")).alias("s"))
    return sig.select(
        "doc_id",
        F.col("s.word_count").alias("word_count"),
        F.col("s.mean_word_length").alias("mean_word_length"),
        F.col("s.symbol_word_ratio").alias("symbol_word_ratio"),
        F.col("s.bullet_line_frac").alias("bullet_line_frac"),
        F.col("s.ellipsis_line_frac").alias("ellipsis_line_frac"),
        F.col("s.alpha_word_frac").alias("alpha_word_frac"),
        F.col("s.distinct_stopwords").alias("distinct_stopwords"),
        F.col("s.dup_line_frac").alias("dup_line_frac"),
        F.col("s.dup_para_frac").alias("dup_para_frac"),
        gopher_keep(
            F.col("s"),
            rules={"distinct_stopwords": (1, None), "word_count": (40, 100_000)},
        ).alias("keep"),
    )


GOPHER_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines,
         string_split(text, chr(10) || chr(10)) AS paras
  FROM documents
), sig AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS word_count,
    ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
          / CAST(GREATEST(len(words), 1) AS DOUBLE), 6) AS mean_word_length,
    ROUND(((length(text) - length(replace(text, '#', ''))) / 1.0
           + (length(text) - length(replace(text, '...', ''))) / 3.0)
          / CAST(GREATEST(len(words), 1) AS DOUBLE), 6) AS symbol_word_ratio,
    ROUND(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
          / CAST(GREATEST(len(lines), 1) AS DOUBLE), 6) AS bullet_line_frac,
    ROUND(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
          / CAST(GREATEST(len(lines), 1) AS DOUBLE), 6) AS ellipsis_line_frac,
    ROUND(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
          / CAST(GREATEST(len(words), 1) AS DOUBLE), 6) AS alpha_word_frac,
    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(list_transform(words, w -> lower(w)), s)))
         AS INTEGER) AS distinct_stopwords,
    ROUND(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
          / CAST(GREATEST(len(lines), 1) AS DOUBLE), 6) AS dup_line_frac,
    ROUND(1.0 - CAST(len(list_distinct(paras)) AS DOUBLE)
          / CAST(GREATEST(len(paras), 1) AS DOUBLE), 6) AS dup_para_frac
  FROM base
)
SELECT *,
  (word_count >= 40 AND word_count <= 100000
   AND mean_word_length >= 3.0 AND mean_word_length <= 10.0
   AND symbol_word_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND distinct_stopwords >= 1
   AND dup_line_frac <= 0.3
   AND dup_para_frac <= 0.3) AS keep
FROM sig
"""


def semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) keep/drop decisions over the embeddings
    table: k-means cells (the IVF coarse quantizer reused), then a greedy
    ascending-id within-cell scan dropping rows whose cosine to an
    already-kept lower id exceeds the threshold. The testdata embeddings
    are near-uniform (max pairwise cosine ≈ 0.48 at sf0.001), so like
    embedding_near_dup_docs the threshold sits where the data has mass;
    real corpora run ≥ 0.95. Rows-only (KMeans sketch, no SQL oracle);
    golden-pinned."""
    from rust_cdc_validator_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    dec = semantic_dedup(emb, n_cells=8, threshold=0.42, seed=42)
    return dec.select(
        "vec_id",
        "cell",
        "keep",
        "dup_of",
        F.round("max_sim", 6).alias("max_sim_r"),
    ).orderBy("vec_id")


def lsh_bucket_overflow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket observability for the vector-LSH caps
    (operators/similarity.py:lsh_dropped_bucket_stats, VERDICT r5 #8):
    which (table, bucket) populations exceed the cap — i.e. exactly the
    buckets lsh_near_dup_pairs would drop and lsh_bucket_topk would
    truncate at this cap, the recall loss made visible. Rows-only
    (hyperplane hashing, no SQL oracle); golden-pinned."""
    from rust_cdc_validator_spark.operators.similarity import (
        lsh_dropped_bucket_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_dropped_bucket_stats(
        emb, dim=64, num_planes=6, num_tables=4, max_bucket_size=10
    ).orderBy("tbl", "bucket")


def minhash_band_overflow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket observability for the MinHash band cap
    (operators/dedup.py:minhash_dropped_band_stats): the (band, bucket)
    blocks whose population exceeds the cap — the buckets the candidate
    join drops, typically boilerplate clusters that belong in exact dedup.
    Rows-only (xxhash64 minhash, no SQL oracle); golden-pinned."""
    from rust_cdc_validator_spark.operators.dedup import (
        minhash_dropped_band_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return minhash_dropped_band_stats(
        docs, "text", "doc_id", num_hashes=64, num_bands=16, max_bucket_size=3
    ).orderBy("band_id", "bucket")


def minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-dedup path (operators/dedup.py:build_minhash_index /
    near_dup_against_index, r6): index the even-doc_id half of the corpus,
    probe the odd half against it — a daily batch deduping against a
    persisted corpus index without recomputing corpus signatures. Output:
    (id_new, id_old, est_jaccard) above threshold. Rows-only (xxhash64
    minhash, no SQL oracle); golden-pinned."""
    from rust_cdc_validator_spark.operators.dedup import near_dup_against_index

    docs = _t(spark, sf_dir, "documents")
    idx = _minhash_index_for(spark, sf_dir)
    return near_dup_against_index(
        docs.filter(F.col("doc_id") % 2 == 1), idx, threshold=0.5
    ).select(
        "id_new", "id_old", F.round("est_jaccard", 4).alias("est_jaccard_r")
    )


def lsh_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing vector near-dup (operators/similarity.py:build_lsh_index /
    near_dup_against_lsh_index, r6): probe the odd-vec_id half of the
    embeddings against a persisted LSH index of the even half — exact
    cosine verified, corpus memberships never recomputed or shuffled.
    Build memoized per process (build-once/probe-many contract, like
    minhash_index_probe). Rows-only (LSH, no SQL oracle); golden-pinned."""
    from rust_cdc_validator_spark.operators.similarity import (
        near_dup_against_lsh_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = _lsh_index_for(spark, sf_dir)
    return near_dup_against_lsh_index(
        emb.filter(F.col("vec_id") % 2 == 1), idx, threshold=0.45
    ).select("id_new", "id_old", F.round("cos_sim", 6).alias("cos_sim_r"))


_MINHASH_INDEX_CACHE: dict[str, str] = {}
_LSH_INDEX_CACHE: dict[str, str] = {}


def _lsh_index_for(spark: SparkSession, sf_dir: str) -> str:
    idx = _LSH_INDEX_CACHE.get(sf_dir)
    if idx is None:
        import tempfile

        from rust_cdc_validator_spark.operators.similarity import build_lsh_index

        idx = tempfile.mkdtemp(prefix="lsh_index_probe_")
        emb = _t(spark, sf_dir, "embeddings")
        build_lsh_index(
            emb.filter(F.col("vec_id") % 2 == 0), idx,
            dim=64, num_planes=6, num_tables=8,
        )
        _LSH_INDEX_CACHE[sf_dir] = idx
    return idx


def _minhash_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the even-doc_id MinHash index
    ``minhash_index_probe`` probes. The index contract is build-once /
    probe-many, so the repeated-measurement steady state is the PROBE —
    the standing-pipeline cost — with the one-time build paid on first
    call (bench warm-up)."""
    idx = _MINHASH_INDEX_CACHE.get(sf_dir)
    if idx is None:
        import tempfile

        from rust_cdc_validator_spark.operators.dedup import build_minhash_index

        idx = tempfile.mkdtemp(prefix="mh_index_probe_")
        docs = _t(spark, sf_dir, "documents")
        build_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
        _MINHASH_INDEX_CACHE[sf_dir] = idx
    return idx


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the most recent same-user
    purchase at-or-before it (backward inclusive). Spark has no ASOF JOIN;
    operators/asof.py implements it as union + one keyed window (one
    shuffle, no pair explosion) — DuckDB's native ASOF JOIN is the oracle."""
    from rust_cdc_validator_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_us",
        F.col("value").alias("last_purchase_value"),
        F.col("event_id").alias("purchase_event_id"),
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        value_cols=["last_purchase_value", "purchase_event_id"],
        tiebreak="purchase_event_id",
    )


EVENTS_ASOF_PURCHASE_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events
), purch AS (
  SELECT user_id, ts_us, value, event_id FROM (
    SELECT user_id, ts_us, value, event_id,
           row_number() OVER (PARTITION BY user_id, ts_us
                              ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_type = 'purchase'
  ) WHERE rn = 1
), clicks AS (
  SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'
)
SELECT c.user_id, c.ts_us, c.event_id,
       p.value AS last_purchase_value,
       p.event_id AS purchase_event_id
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing for a training-data pipeline: measure each
    source's actual share of the corpus in TOKENS (the unit an LLM token
    budget is written in, not documents) and emit the resampling weight
    ``w_s = target_share / token_share`` that a sampler would apply to hit
    a uniform target mixture. Scale shape: one map-side-combined groupBy on
    `source` (output is sources-sized, i.e. tiny), then a broadcast of the
    one-row corpus total — no second pass over the documents. Shares and
    weights are single IEEE divisions of exact integers, so the values
    hash-match DuckDB bit-exactly."""
    docs = _t(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    token_share = F.col("n_tokens").cast("double") / F.col("total_tokens").cast(
        "double"
    )
    target_share = F.lit(1.0) / F.col("n_sources").cast("double")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        token_share.alias("token_share"),
        target_share.alias("target_share"),
        (target_share / token_share).alias("weight"),
    )


SOURCE_MIXTURE_SQL = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_sources
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       1.0 / CAST(n_sources AS DOUBLE) AS target_share,
       (1.0 / CAST(n_sources AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS weight
FROM per_source CROSS JOIN tot
"""


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signals (ExactSubstr family, Lee et al. 2022):
    per-doc fraction of tokens covered by a 16-token window that repeats
    ANYWHERE in the corpus. The operator hashes windows map-side (text
    never shuffles; only 8-byte hashes + positions move) and computes exact
    duplicated-span coverage with a closed-form fixed-width interval union.
    The oracle replicates the semantics on the window TEXT — equivalent
    unless two distinct 16-token windows collide in xxhash64 (~2^-64 per
    pair; verified collision-free on the test corpus)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_substring_stats(docs, "text", "doc_id", window=16)


DUP_SPAN_STATS_SQL = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(GREATEST(0, len(t) - 15) AS BIGINT) AS n_windows
  FROM tk
), pos AS (
  SELECT doc_id, t, CAST(unnest(range(1, len(t) - 14)) AS INTEGER) AS pos
  FROM tk WHERE len(t) >= 16
), win AS (
  SELECT doc_id, pos, array_to_string(t[pos:pos+15], ' ') AS wtext FROM pos
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY wtext) AS cnt FROM win
  ) WHERE cnt >= 2
), lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM dup
), cov AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
         CAST(SUM(LEAST(16, pos - COALESCE(prev, pos - 16))) AS BIGINT)
           AS dup_covered_tokens
  FROM lagged GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       CAST(COALESCE(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(c.dup_covered_tokens, 0) AS BIGINT) AS dup_covered_tokens,
       CAST(COALESCE(c.dup_covered_tokens, 0) AS DOUBLE)
         / CAST(b.n_tokens AS DOUBLE) AS dup_frac
FROM base b LEFT JOIN cov c USING (doc_id)
"""


def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr rewrite pass: each doc with every corpus-wide
    duplicated 16-token span removed, plus how many tokens were cut. The
    oracle recomputes coverage on window TEXT with a non-equi range join
    (token p is cut iff a duplicated window starts in [p-15, p])."""
    docs = _t(spark, sf_dir, "documents")
    return exact_substring_scrub(docs, "text", "doc_id", window=16)


DUP_SPAN_SCRUB_SQL = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, t, CAST(unnest(range(1, len(t) - 14)) AS INTEGER) AS pos
  FROM tk WHERE len(t) >= 16
), win AS (
  SELECT doc_id, pos, array_to_string(t[pos:pos+15], ' ') AS wtext FROM pos
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY wtext) AS cnt FROM win
  ) WHERE cnt >= 2
), tokv AS (
  SELECT doc_id, CAST(unnest(range(1, len(t) + 1)) AS INTEGER) AS p,
         unnest(t) AS tok
  FROM tk
), kept AS (
  SELECT v.doc_id, v.p, v.tok
  FROM tokv v LEFT JOIN dup u
    ON v.doc_id = u.doc_id AND u.pos BETWEEN v.p - 15 AND v.p
  WHERE u.pos IS NULL
)
SELECT tk.doc_id,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS scrubbed,
       CAST(len(ANY_VALUE(tk.t)) - COUNT(k.p) AS BIGINT) AS n_removed_tokens
FROM tk LEFT JOIN kept k USING (doc_id)
GROUP BY tk.doc_id
"""


def _docs_with_synthetic_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic docs are single-line word soup, so the cross-document
    line operators would be degenerate on them raw. Re-line each doc as
    4-word windows (map-side array expressions, mirrored exactly in the
    oracle) — with the ~30-word vocabulary, ~5% of distinct 4-word lines
    recur across documents, a realistic boilerplate rate."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    # guard the empty-doc case: Spark's sequence(1, 0, 4) raises "illegal
    # sequence boundaries" while the oracle's range(1, 1, 4) is empty —
    # mirror the oracle by producing an empty starts list for empty docs
    starts = F.when(
        F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks), F.lit(4))
    ).otherwise(F.array().cast("array<int>"))
    lines = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, 4), " ")
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )


def boilerplate_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup
    (operators/corpus.py:scrub_boilerplate_lines): lines appearing in ≥2
    distinct docs are corpus boilerplate, removed everywhere. The
    corpus-wide complement of docs_clean_lines' per-document pass."""
    from rust_cdc_validator_spark.operators.corpus import (
        scrub_boilerplate_lines,
    )

    docs = _docs_with_synthetic_lines(spark, sf_dir)
    return scrub_boilerplate_lines(docs, min_doc_freq=2).select(
        "doc_id", "n_lines", "n_lines_kept", "text_clean"
    )


_LINES_CTE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 4)) AS st FROM t
), l AS (
  SELECT doc_id, CAST((st - 1) / 4 AS INT) AS pos,
         array_to_string(list_slice(tk, st, st + 3), ' ') AS line
  FROM s
)"""

BOILERPLATE_SCRUB_SQL = (
    _LINES_CTE
    + """, f AS (
  SELECT line, COUNT(DISTINCT doc_id) AS df FROM l GROUP BY line
), k AS (
  SELECT l.doc_id, l.pos, l.line FROM l JOIN f USING (line) WHERE f.df < 2
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS txt
  FROM k GROUP BY doc_id
), nl AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id
)
SELECT nl.doc_id, CAST(nl.n_lines AS INT) AS n_lines,
       CAST(COALESCE(agg.n_kept, 0) AS INT) AS n_lines_kept,
       COALESCE(agg.txt, '') AS text_clean
FROM nl LEFT JOIN agg USING (doc_id)
"""
)


def boilerplate_line_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-frequency histogram of corpus lines
    (operators/corpus.py:boilerplate_line_stats) — the pre-flight
    observability pass that picks min_doc_freq before scrubbing."""
    from rust_cdc_validator_spark.operators.corpus import (
        boilerplate_line_stats,
    )

    docs = _docs_with_synthetic_lines(spark, sf_dir)
    return boilerplate_line_stats(docs)


BOILERPLATE_HISTOGRAM_SQL = (
    _LINES_CTE
    + """, per AS (
  SELECT line, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS df
  FROM l GROUP BY line
)
SELECT CAST(df AS INT) AS doc_freq,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
       CAST(SUM(occ) AS BIGINT) AS n_occurrences
FROM per GROUP BY df
"""
)


def training_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle
    (operators/corpus.py:shuffle_corpus): every doc gets a (shard,
    shard_pos) training-order slot that is a pure function of (seed, id)
    — reproducible across runs/engines/partitionings, reseeded per
    epoch."""
    from rust_cdc_validator_spark.operators.corpus import shuffle_corpus

    docs = _t(spark, sf_dir, "documents")
    return shuffle_corpus(docs, seed=1, num_shards=16).select(
        "doc_id", "shard", "shard_pos"
    )


TRAINING_ORDER_SQL = """
WITH keyed AS (
  SELECT doc_id, md5('1:' || CAST(doc_id AS VARCHAR)) AS k FROM documents
), b AS (
  SELECT doc_id, k,
         CAST((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) % 16
              AS INT) AS shard
  FROM keyed
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
            AS INT) AS shard_pos
FROM b
"""


def mixture_applied_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampler half of mixture rebalancing
    (operators/corpus.py:apply_mixture): uniform-target token weights from
    the measurement pass are applied to the corpus — over-represented
    sources downsample deterministically, under-represented ones replicate
    with copy_id. Broadcast weights + map-side explode; no shuffle."""
    from rust_cdc_validator_spark.operators.corpus import apply_mixture

    docs = _t(spark, sf_dir, "documents")
    weights = source_mixture_weights(spark, sf_dir).select("source", "weight")
    out = apply_mixture(docs, weights)
    return out.select("doc_id", "source", F.col("copy_id").cast("int").alias("copy_id"))


MIXTURE_APPLIED_SQL = """
WITH per_source AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_sources
  FROM per_source
), w AS (
  SELECT source,
         (1.0 / CAST(n_sources AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS wt
  FROM per_source, tot
), d AS (
  SELECT doc_id, documents.source, wt,
         ((strpos('0123456789abcdef', substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) AS bucket
  FROM documents JOIN w USING (source)
), c AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS INT)
         + CASE WHEN bucket < CAST(ROUND((wt - FLOOR(wt)) * 4096, 0) AS INT)
                THEN 1 ELSE 0 END AS copies
  FROM d
)
SELECT doc_id, source, CAST(unnest(range(0, copies)) AS INT) AS copy_id
FROM c WHERE copies > 0
"""


def contamination_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination
    (operators/corpus.py:contamination_check_bloom): same benchmark split
    as contamination_docs, but the benchmark shingle set is a broadcast
    Bloom filter and the probe is a zero-shuffle map-side scan — the
    100 TB path. Bloom membership is not SQL-expressible → rows-only with
    a golden. Flags are a deterministic SUPERSET of contamination_docs'
    exact join (zero false negatives; at the pinned fpp=1e-6 the sf0.001
    corpus shows exactly one benign extra flag, frozen by the golden)."""
    from rust_cdc_validator_spark.operators.corpus import (
        build_benchmark_bloom,
        contamination_check_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    bloom = build_benchmark_bloom(bench, shingle_n=8, fpp=1e-6)
    return contamination_check_bloom(train, bloom)


def events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py direction='forward'): each
    click picks up the EARLIEST same-user error at-or-after it — the
    "next failure after interaction" shape. Same union+one-keyed-window
    plan as backward; only the per-key traversal order flips. DuckDB's
    ASOF JOIN with the inequality reversed is the oracle."""
    from rust_cdc_validator_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts_us",
        F.col("value").alias("next_error_value"),
        F.col("event_id").alias("error_event_id"),
    )
    return asof_join(
        clicks,
        errors,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        value_cols=["next_error_value", "error_event_id"],
        tiebreak="error_event_id",
        direction="forward",
    )


EVENTS_ASOF_NEXT_ERROR_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events
), err AS (
  SELECT user_id, ts_us, value, event_id FROM (
    SELECT user_id, ts_us, value, event_id,
           row_number() OVER (PARTITION BY user_id, ts_us
                              ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_type = 'error'
  ) WHERE rn = 1
), clicks AS (
  SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'
)
SELECT c.user_id, c.ts_us, c.event_id,
       e.value AS next_error_value,
       e.event_id AS error_event_id
FROM clicks c ASOF LEFT JOIN err e
  ON c.user_id = e.user_id AND c.ts_us <= e.ts_us
"""


def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour activity features per user
    (operators/timeseries.py:rolling_window_features): a RANGE frame over
    epoch-micros — wall-clock window semantics, distinct from the ROWS
    frames elsewhere in the catalog. Sums rounded to 6 (cross-engine
    float accumulation order)."""
    from rust_cdc_validator_spark.operators.timeseries import (
        rolling_window_features,
    )

    ev = _events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    out = rolling_window_features(
        ev.select("event_id", "user_id", "ts_us", "value"),
        keys=["user_id"],
        ts_col="ts_us",
        value_col="value",
        lookback=3_600_000_000,  # 1 hour in micros
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "rolling_count",
        F.round("rolling_sum", 6).alias("rolling_sum_r"),
        F.round("rolling_avg", 6).alias("rolling_avg_r"),
    )


EVENTS_ROLLING_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
)
SELECT event_id, user_id, ts_us,
       COUNT(*) OVER w AS rolling_count,
       ROUND(SUM(value) OVER w, 6) AS rolling_sum_r,
       ROUND(AVG(value) OVER w, 6) AS rolling_avg_r
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (functions/vectors.py:mean_vectors):
    distributed mean-pooling whose shuffle carries labels×dim partial sums
    per partition, never N×dim exploded rows. Exploded + rounded to 5 for
    the oracle (cross-engine float accumulation order)."""
    from rust_cdc_validator_spark.functions.vectors import mean_vectors

    emb = _t(spark, sf_dir, "embeddings")
    cents = mean_vectors(emb, "label", "embedding")
    return cents.select(
        "label", "n_vecs", F.posexplode("centroid").alias("pos", "_v")
    ).select("label", "n_vecs", "pos", F.round("_v", 5).alias("centroid_r"))


LABEL_CENTROIDS_SQL = """
WITH s AS (
  SELECT label, embedding,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
), e AS (
  SELECT label, CAST(pos - 1 AS INT) AS pos,
         CAST(embedding[pos] AS DOUBLE) AS v
  FROM s
), n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label
)
SELECT e.label, n.n_vecs, e.pos, ROUND(AVG(e.v), 5) AS centroid_r
FROM e JOIN n ON e.label = n.label
GROUP BY e.label, n.n_vecs, e.pos
"""


def curriculum_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment (operators/corpus.py:curriculum_order):
    quality phases by fixed thresholds over the text_quality score
    (map-side — no global ntile sort), seeded shuffle within each phase.
    A trainer reads (phase, shard, shard_pos) lexicographically."""
    from rust_cdc_validator_spark.operators.corpus import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    length_term = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(n_sw / F.size(toks) * 3, F.lit(1.0))
    scored = docs.withColumn("quality", (length_term + sw_term) / 2)
    out = curriculum_order(
        scored, "quality", thresholds=[0.4, 0.6, 0.8], seed=2, num_shards=16
    )
    return out.select("doc_id", "phase", "shard", "shard_pos")


CURRICULUM_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         (LEAST(LENGTH(text) / 500.0, 1.0) +
          LEAST(3 * (LEN(list_filter(string_split(text, ' '),
                                     t -> list_contains([{_SW_LIST}], t)))
                     / CAST(LEN(string_split(text, ' ')) AS DOUBLE)), 1.0)
         ) / 2 AS quality
  FROM documents
), keyed AS (
  SELECT doc_id,
         (CASE WHEN quality >= 0.4 THEN 1 ELSE 0 END
        + CASE WHEN quality >= 0.6 THEN 1 ELSE 0 END
        + CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END) AS phase,
         md5('2:' || CAST(doc_id AS VARCHAR)) AS k
  FROM scored
), b AS (
  SELECT doc_id, phase, k,
         CAST((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) % 16
              AS INT) AS shard
  FROM keyed
)
SELECT doc_id, phase, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY phase, shard ORDER BY k, doc_id)
            AS INT) AS shard_pos
FROM b
"""


def mmr_rerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (operators/retrieval.py:mmr_rerank): 8 query
    vectors retrieve exact cosine top-40 candidates, then the greedy
    λ=0.7 re-rank picks a diverse top-10 per query. Iterative greedy —
    no SQL oracle; rows-only with a golden (deterministic: pre-sorted
    candidates, id tiebreaks, fixed float64 matmul order)."""
    from rust_cdc_validator_spark.operators.retrieval import mmr_rerank
    from rust_cdc_validator_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cands = brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=40
    )
    with_vecs = cands.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        ),
        "neighbor_id",
    )
    out = mmr_rerank(
        with_vecs,
        query_col="query_id",
        id_col="neighbor_id",
        score_col="cos_sim",
        vec_col="embedding",
        k=10,
        lam=0.7,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "mmr_rank",
        F.round("mmr_score", 5).alias("mmr_score_r"),
    )


def curriculum_equal_mass_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-mass curriculum: quartile thresholds come from
    percentile_profile (exact here for the oracle; the sketch path is the
    100 TB default) and feed curriculum_order — the composition the
    curriculum_order docstring prescribes instead of a global ntile.
    Only the three threshold doubles cross the driver."""
    from rust_cdc_validator_spark.operators.corpus import (
        curriculum_order,
        percentile_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    length_term = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(n_sw / F.size(toks) * 3, F.lit(1.0))
    scored = docs.withColumn("quality", (length_term + sw_term) / 2)
    prof = percentile_profile(
        scored, ["quality"], probs=(0.25, 0.5, 0.75), approx=False
    ).collect()[0]
    thresholds = [prof["quality_p25"], prof["quality_p50"], prof["quality_p75"]]
    out = curriculum_order(
        scored, "quality", thresholds=thresholds, seed=4, num_shards=16
    )
    return out.select("doc_id", "phase", "shard", "shard_pos")


CURRICULUM_EQUAL_MASS_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         (LEAST(LENGTH(text) / 500.0, 1.0) +
          LEAST(3 * (LEN(list_filter(string_split(text, ' '),
                                     t -> list_contains([{_SW_LIST}], t)))
                     / CAST(LEN(string_split(text, ' ')) AS DOUBLE)), 1.0)
         ) / 2 AS quality
  FROM documents
), th AS (
  SELECT quantile_cont(quality, 0.25) AS t1,
         quantile_cont(quality, 0.50) AS t2,
         quantile_cont(quality, 0.75) AS t3
  FROM scored
), keyed AS (
  SELECT doc_id,
         (CASE WHEN quality >= t1 THEN 1 ELSE 0 END
        + CASE WHEN quality >= t2 THEN 1 ELSE 0 END
        + CASE WHEN quality >= t3 THEN 1 ELSE 0 END) AS phase,
         md5('4:' || CAST(doc_id AS VARCHAR)) AS k
  FROM scored, th
), b AS (
  SELECT doc_id, phase, k,
         CAST((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) % 16
              AS INT) AS shard
  FROM keyed
)
SELECT doc_id, phase, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY phase, shard ORDER BY k, doc_id)
            AS INT) AS shard_pos
FROM b
"""


def blocklist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist filtering (functions/text.py:blocklist_signals): docs with
    ≥3 hits against a 3-term blocklist, with hit counts — map-side only,
    the C4-style dirty-word gate."""
    from rust_cdc_validator_spark.functions.text import blocklist_signals

    docs = _t(spark, sf_dir, "documents")
    sig = blocklist_signals(F.col("text"), ["slow", "error", "merge"])
    out = docs.select("doc_id", sig.alias("_b")).select(
        "doc_id",
        F.col("_b.n_blocked_hits").alias("n_blocked_hits"),
        F.col("_b.n_blocked_terms").alias("n_blocked_terms"),
    )
    return out.filter(F.col("n_blocked_hits") >= 3)


BLOCKLIST_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\s+'), w -> lower(w)),
                     w -> list_contains(['slow', 'error', 'merge'], w)) AS hits
  FROM documents
)
SELECT doc_id,
       CAST(len(hits) AS INT) AS n_blocked_hits,
       CAST(len(list_distinct(hits)) AS INT) AS n_blocked_terms
FROM t WHERE len(hits) >= 3
"""


def lm_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering
    (operators/corpus.py:lm_perplexity): hashed interpolated bigram LM fit
    on the src0 target split, scoring the training pool — the same
    benchmark-vs-pool split as dsir_importance_docs, giving the
    perplexity-threshold quality signal. Rounded to 6 (libm ln ulp)."""
    from rust_cdc_validator_spark.operators.corpus import lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    pool = docs.filter(F.col("source") != "src0")
    out = lm_perplexity(target, pool, buckets=4096, alpha=0.5, beta=0.7)
    return out.select(
        "doc_id", "n_tokens", F.round("log_ppl", 6).alias("log_ppl_r")
    )


_B3 = (
    "((strpos('0123456789abcdef', substring(md5({v}), 1, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substring(md5({v}), 2, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substring(md5({v}), 3, 1)) - 1))"
)

LM_PERPLEXITY_SQL = f"""
WITH tr AS (
  SELECT list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
  FROM documents WHERE source = 'src0'
), tr_tok AS (
  SELECT unnest(tk) AS w FROM tr
), uni AS (
  SELECT {_B3.format(v='w')} AS b, COUNT(*) AS c FROM tr_tok GROUP BY b
), tot AS (
  SELECT SUM(c) AS n FROM uni
), tr_bi AS (
  SELECT tk, unnest(range(1, len(tk))) AS i FROM tr WHERE len(tk) >= 2
), bi AS (
  SELECT {_B3.format(v="tk[i] || ' ' || tk[i + 1]")} AS b, COUNT(*) AS c
  FROM tr_bi GROUP BY b
), sc AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
  FROM documents WHERE source <> 'src0'
), terms AS (
  SELECT doc_id, CAST(NULL AS INT) AS bbi, CAST(NULL AS INT) AS b1,
         {_B3.format(v='tk[1]')} AS b2
  FROM sc WHERE len(tk) >= 1
  UNION ALL
  SELECT doc_id,
         {_B3.format(v="tk[i] || ' ' || tk[i + 1]")} AS bbi,
         {_B3.format(v='tk[i]')} AS b1,
         {_B3.format(v='tk[i + 1]')} AS b2
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        FROM sc WHERE len(tk) >= 2)
), scored AS (
  SELECT t.doc_id,
         CASE WHEN t.b1 IS NOT NULL AND u1.c IS NOT NULL
                   AND bb.c IS NOT NULL
              THEN 0.7 * LEAST(CAST(bb.c AS DOUBLE) / CAST(u1.c AS DOUBLE),
                               1.0)
                 + 0.3 * ((COALESCE(u2.c, 0) + 0.5)
                          / (tot.n + 0.5 * 4096))
              ELSE (COALESCE(u2.c, 0) + 0.5) / (tot.n + 0.5 * 4096)
         END AS p
  FROM terms t
  LEFT JOIN uni u2 ON t.b2 = u2.b
  LEFT JOIN uni u1 ON t.b1 = u1.b
  LEFT JOIN bi bb ON t.bbi = bb.b
  CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-SUM(ln(p)) / COUNT(*), 6) AS log_ppl_r
FROM scored GROUP BY doc_id
"""


def leakage_safe_splits_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment
    (operators/corpus.py:leakage_safe_split): the split hashes each doc's
    exact-dup cluster root (min id per normalized text), so duplicates
    can never straddle splits — the classic eval-contamination bug."""
    from rust_cdc_validator_spark.operators.corpus import (
        leakage_safe_split,
        normalize_text,
    )

    docs = _t(spark, sf_dir, "documents")
    normed = docs.withColumn("_norm_h", F.xxhash64(normalize_text(F.col("text"))))
    roots = normed.groupBy("_norm_h").agg(F.min("doc_id").alias("root"))
    with_root = normed.join(roots, "_norm_h")
    out = leakage_safe_split(
        with_root,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        cluster_col="root",
        seed=5,
    )
    return out.select("doc_id", "root", "split")


LEAKAGE_SAFE_SPLITS_SQL = """
WITH normed AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm
  FROM documents
), roots AS (
  SELECT norm, MIN(doc_id) AS root FROM normed GROUP BY norm
), with_root AS (
  SELECT n.doc_id, r.root FROM normed n JOIN roots r ON n.norm = r.norm
), b AS (
  SELECT doc_id, root,
         ((strpos('0123456789abcdef', substring(md5('split:5:' || CAST(root AS VARCHAR)), 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substring(md5('split:5:' || CAST(root AS VARCHAR)), 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5('split:5:' || CAST(root AS VARCHAR)), 3, 1)) - 1)) AS bucket
  FROM with_root
)
SELECT doc_id, root,
       CASE WHEN bucket < 3277 THEN 'train'
            WHEN bucket < 3686 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health dashboard: the pre-flight numbers a pipeline
    operator reads before launching a 100 TB run — doc/source/lang counts,
    exact-dup rate (over normalized text), gate pass rate, mean quality
    and token length. ONE aggregation pass, all partials map-side; output
    is one row."""
    from rust_cdc_validator_spark.operators.corpus import normalize_text

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    length_term = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(n_sw / F.size(toks) * 3, F.lit(1.0))
    quality = (length_term + sw_term) / 2
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct(F.xxhash64(normalize_text(F.col("text")))).alias(
            "n_distinct_norm"
        ),
        F.round(F.avg(quality), 6).alias("mean_quality_r"),
        F.round(F.avg(F.size(toks)), 6).alias("mean_tokens_r"),
        F.sum((F.length("text") >= 100).cast("long")).alias("n_pass_gate"),
    )


CORPUS_HEALTH_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT trim(regexp_replace(regexp_replace(lower(text),
                 '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))) AS BIGINT)
         AS n_distinct_norm,
       ROUND(AVG((LEAST(LENGTH(text) / 500.0, 1.0) +
                  LEAST(3 * (LEN(list_filter(string_split(text, ' '),
                                             t -> list_contains([{_SW_LIST}], t)))
                         / CAST(LEN(string_split(text, ' ')) AS DOUBLE)), 1.0)
                 ) / 2), 6) AS mean_quality_r,
       ROUND(AVG(LEN(string_split(text, ' '))), 6) AS mean_tokens_r,
       CAST(SUM(CASE WHEN LENGTH(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_gate
FROM documents
"""


def orders_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift monitoring (operators/drift.py:drift_report): the
    ≤1996 orders slice as the "before" version vs the full table — one
    aggregation pass per side, columns×metrics output, per-metric drifted
    verdicts at the 1% default tolerance (every rel_delta in this data
    sits far from the boundary; values rounded for the cross-engine
    float accumulation)."""
    from rust_cdc_validator_spark.operators.drift import drift_report

    orders = _t(spark, sf_dir, "orders")
    before = orders.filter(F.year("o_orderdate") <= 1996)
    rep = drift_report(before, orders, columns=["o_custkey", "o_totalprice"])
    return rep.select(
        "column",
        "metric",
        F.round("value_before", 4).alias("value_before_r"),
        F.round("value_after", 4).alias("value_after_r"),
        F.round("rel_delta", 6).alias("rel_delta_r"),
        "drifted",
    )


def _drift_side_sql(rel: str) -> str:
    cols = ["o_custkey", "o_totalprice"]
    parts = [
        f"SELECT '__table__' AS \"column\", 'row_count' AS metric,"
        f" CAST(COUNT(*) AS DOUBLE) AS v FROM {rel}"
    ]
    for c in cols:
        parts += [
            f"SELECT '{c}', 'null_count',"
            f" CAST(COUNT(*) - COUNT({c}) AS DOUBLE) FROM {rel}",
            f"SELECT '{c}', 'mean', AVG(CAST({c} AS DOUBLE)) FROM {rel}",
            f"SELECT '{c}', 'std', stddev_samp(CAST({c} AS DOUBLE)) FROM {rel}",
            f"SELECT '{c}', 'min', CAST(MIN({c}) AS DOUBLE) FROM {rel}",
            f"SELECT '{c}', 'max', CAST(MAX({c}) AS DOUBLE) FROM {rel}",
        ]
    return "\n  UNION ALL ".join(parts)


ORDERS_DRIFT_SQL = f"""
WITH b AS (
  SELECT * FROM orders WHERE year(o_orderdate) <= 1996
), mb AS (
  {_drift_side_sql('b')}
), ma AS (
  {_drift_side_sql('orders')}
)
SELECT mb."column", mb.metric,
       ROUND(mb.v, 4) AS value_before_r,
       ROUND(ma.v, 4) AS value_after_r,
       ROUND(ABS(ma.v - mb.v) / GREATEST(ABS(mb.v), 1e-12), 6) AS rel_delta_r,
       (ABS(ma.v - mb.v) / GREATEST(ABS(mb.v), 1e-12)) > 0.01 AS drifted
FROM mb JOIN ma USING ("column", metric)
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source content overlap
    (operators/corpus.py:source_overlap): shared distinct 8-gram count +
    Jaccard per source pair — mirror detection before trusting mixture
    weights. Jaccard rounded to 6 (exact integer division either way,
    rounding only normalizes the repr)."""
    from rust_cdc_validator_spark.operators.corpus import source_overlap

    docs = _t(spark, sf_dir, "documents")
    out = source_overlap(docs, shingle_n=8)
    return out.select(
        "source_a",
        "source_b",
        "shared_shingles",
        F.round("jaccard", 6).alias("jaccard_r"),
    )


SOURCE_OVERLAP_SQL = """
WITH sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 6),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')
         ))) AS g
  FROM documents
  WHERE len(string_split(text, ' ')) >= 8
  UNION
  -- word_shingles' short-doc fallback: the whole text as one shingle
  SELECT DISTINCT source, text AS g FROM documents
  WHERE len(string_split(text, ' ')) < 8
), sizes AS (
  SELECT source, COUNT(*) AS n FROM sh GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_shingles
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, CAST(s.shared_shingles AS BIGINT) AS shared_shingles,
       ROUND(CAST(s.shared_shingles AS DOUBLE)
             / (na.n + nb.n - s.shared_shingles), 6) AS jaccard_r
FROM shared s
JOIN sizes na ON s.source_a = na.source
JOIN sizes nb ON s.source_b = nb.source
"""


def orders_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI histogram drift (operators/drift.py:psi_drift) on o_totalprice
    between the ≤1996 slice and the full table — the ML-monitoring
    companion to orders_drift_report's moment metrics. Shares and
    contributions rounded (cross-engine count-ratio division is exact;
    ln is libm-ulp)."""
    from rust_cdc_validator_spark.operators.drift import psi_drift

    orders = _t(spark, sf_dir, "orders")
    before = orders.filter(F.year("o_orderdate") <= 1996)
    out = psi_drift(before, orders, "o_totalprice", bins=10)
    return out.select(
        "bin",
        F.round("bin_lo", 4).alias("bin_lo_r"),
        F.round("share_before", 6).alias("share_before_r"),
        F.round("share_after", 6).alias("share_after_r"),
        F.round("psi_contrib", 8).alias("psi_contrib_r"),
    )


ORDERS_PSI_SQL = """
WITH b AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE year(o_orderdate) <= 1996 AND o_totalprice IS NOT NULL
), a AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL
), bounds AS (
  SELECT MIN(x) AS lo, (MAX(x) - MIN(x)) / 10 AS width FROM b
), hb AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((x - lo) / width), 0), 9) AS INT) AS bin,
         COUNT(*) AS n
  FROM b, bounds GROUP BY bin
), ha AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((x - lo) / width), 0), 9) AS INT) AS bin,
         COUNT(*) AS n
  FROM a, bounds GROUP BY bin
), tb AS (SELECT SUM(n) AS t FROM hb),
   ta AS (SELECT SUM(n) AS t FROM ha),
   grid AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin)
SELECT g.bin,
       ROUND(bounds.lo + g.bin * bounds.width, 4) AS bin_lo_r,
       ROUND(COALESCE(CAST(hb.n AS DOUBLE) / tb.t, 0.0), 6) AS share_before_r,
       ROUND(COALESCE(CAST(ha.n AS DOUBLE) / ta.t, 0.0), 6) AS share_after_r,
       ROUND((GREATEST(COALESCE(CAST(ha.n AS DOUBLE) / ta.t, 0.0), 1e-6)
            - GREATEST(COALESCE(CAST(hb.n AS DOUBLE) / tb.t, 0.0), 1e-6))
           * ln(GREATEST(COALESCE(CAST(ha.n AS DOUBLE) / ta.t, 0.0), 1e-6)
              / GREATEST(COALESCE(CAST(hb.n AS DOUBLE) / tb.t, 0.0), 1e-6)),
             8) AS psi_contrib_r
FROM grid g
CROSS JOIN bounds CROSS JOIN tb CROSS JOIN ta
LEFT JOIN hb ON g.bin = hb.bin
LEFT JOIN ha ON g.bin = ha.bin
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH ANN path against exact brute force
    (operators/retrieval.py:recall_report) for 64 query vectors — the
    standing index-quality monitor. ANN is hash-based → rows-only with a
    golden."""
    from rust_cdc_validator_spark.operators.retrieval import recall_report
    from rust_cdc_validator_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 64)
    exact = brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=10
    )
    approx = lsh_bucket_topk(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding",
        k=10, num_planes=6, num_tables=8,
    )
    return recall_report(exact, approx, k=10).orderBy("query_id")


def contamination_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (operators/corpus.py:contamination_ratio):
    docs whose distinct-8-gram overlap with the src0 benchmark split is
    ≥50% — the "largely benchmark content" gate, vs contamination_docs'
    any-hit rule. Ratio is an exact integer division (hash-portable)."""
    from rust_cdc_validator_spark.operators.corpus import contamination_ratio

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return contamination_ratio(train, bench, shingle_n=8, min_ratio=0.5)


CONTAMINATION_RATIO_SQL = """
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
             range(1, len(t) - 6),
             i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
  FROM tok WHERE len(t) >= 8
  UNION ALL
  SELECT doc_id, source, array_to_string(t, ' ') AS s
  FROM tok WHERE len(t) < 8
), tr AS (
  SELECT doc_id, s,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_shingles
  FROM sh WHERE source <> 'src0'
), b AS (
  SELECT DISTINCT s FROM sh WHERE source = 'src0'
)
SELECT tr.doc_id,
       CAST(tr.n_shingles AS INT) AS n_shingles,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) AS DOUBLE) / tr.n_shingles AS overlap_ratio
FROM tr JOIN b ON tr.s = b.s
GROUP BY tr.doc_id, tr.n_shingles
HAVING CAST(COUNT(*) AS DOUBLE) / tr.n_shingles >= 0.5
"""


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup clusters — the dedup-rate
    observability the other sketch families already have (LSH overflow,
    SimHash drops, IVF cells): one row per cluster size with cluster and
    doc counts; `1` is the unduplicated mass, the tail is what dedup will
    remove. MinHash-derived → rows-only with a golden. The re-aggregation
    runs on the roots relation (≤ docs rows, 8-byte ids)."""
    from rust_cdc_validator_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "text", "doc_id", num_hashes=32, num_bands=8)
    sizes = clusters.groupBy("keeper_id").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    return (
        sizes.groupBy(F.col("_sz").cast("int").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("_sz").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def bm25_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 (operators/retrieval.py:ndcg_report) of the BM25 top-25
    with graded relevance = matched-query-term count — the ranking-quality
    monitor over an oracle-reproducible retriever, so the metric itself is
    value-checked end-to-end. Rounded to 6 (libm log2 ulp)."""
    from rust_cdc_validator_spark.operators.retrieval import (
        bm25_topk,
        ndcg_report,
    )

    docs = _t(spark, sf_dir, "documents")
    bm = bm25_topk(docs, ["spark", "join", "filter"], k=25, log_idf=False)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    ranked = bm.withColumn("rank", F.row_number().over(w))
    out = ndcg_report(ranked, rel_col="n_terms", k=10)
    return out.select(
        F.round("dcg", 6).alias("dcg_r"),
        F.round("idcg", 6).alias("idcg_r"),
        F.round("ndcg", 6).alias("ndcg_r"),
    )


BM25_NDCG_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(arr)) AS avgdl FROM d
), m AS (
  SELECT doc_id, len(arr) AS dl, unnest(arr) AS tok FROM d
), tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM m
  WHERE tok IN ('spark', 'join', 'filter')
  GROUP BY doc_id, dl, tok
), dfq AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id,
         ((n_docs - df + 0.5) / (df + 0.5))
         * (tf * (1.2 + 1.0))
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
  FROM tf JOIN dfq USING (tok) CROSS JOIN stats
), bm AS (
  SELECT doc_id, SUM(s) AS bm25, COUNT(*) AS n_terms
  FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT 25
), ranked AS (
  SELECT doc_id, n_terms,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
  FROM bm
), top AS (
  SELECT n_terms, rnk,
         ROW_NUMBER() OVER (ORDER BY n_terms DESC, rnk ASC) AS irnk
  FROM ranked WHERE rnk <= 10
)
SELECT ROUND(SUM(n_terms / log2(rnk + 1.0)), 6) AS dcg_r,
       ROUND(SUM(n_terms / log2(irnk + 1.0)), 6) AS idcg_r,
       ROUND(SUM(n_terms / log2(rnk + 1.0))
             / SUM(n_terms / log2(irnk + 1.0)), 6) AS ndcg_r
FROM top
"""


def centroid_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mislabel/outlier triage
    (functions/vectors.py:centroid_outliers): the 5 vectors farthest from
    their label centroid — salted exact bottom-k, never a one-task
    per-label sort. Similarity rounded to 6 (cross-engine accumulation)."""
    from rust_cdc_validator_spark.functions.vectors import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb, "label", k=5)
    return out.select(
        "vec_id",
        "label",
        F.round("centroid_sim", 6).alias("centroid_sim_r"),
        "outlier_rank",
    )


CENTROID_OUTLIERS_SQL = """
WITH dims AS (
  SELECT vec_id, label, embedding,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
), vals AS (
  SELECT vec_id, label, CAST(pos AS INT) AS pos,
         CAST(embedding[pos] AS DOUBLE) AS v
  FROM dims
), cent AS (
  SELECT label, pos, AVG(v) AS c FROM vals GROUP BY label, pos
), agg AS (
  SELECT vals.vec_id, vals.label,
         SUM(vals.v * cent.c) AS dot,
         SUM(vals.v * vals.v) AS n2,
         SUM(cent.c * cent.c) AS c2
  FROM vals JOIN cent ON vals.label = cent.label AND vals.pos = cent.pos
  GROUP BY vals.vec_id, vals.label
), sims AS (
  SELECT vec_id, label, dot / (sqrt(n2) * sqrt(c2)) AS sim FROM agg
)
SELECT vec_id, label, ROUND(sim, 6) AS centroid_sim_r,
       CAST(rn AS INT) AS outlier_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY sim ASC, vec_id) AS rn
  FROM sims
) t WHERE rn <= 5
"""


def doc_vectors_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing doc vectors
    (operators/corpus.py:hashed_doc_vectors): the model-free text→vector
    bridge, exploded per dimension for the oracle (values rounded to 6 —
    the components are exact ± sums over one L2 division)."""
    from rust_cdc_validator_spark.operators.corpus import hashed_doc_vectors

    docs = _t(spark, sf_dir, "documents")
    out = hashed_doc_vectors(docs, dim=64)
    return out.select(
        "doc_id", F.posexplode("vector").alias("pos", "_v")
    ).select("doc_id", "pos", F.round("_v", 6).alias("val_r"))


DOC_VECTORS_HASHED_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS w
  FROM documents
), h AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substring(md5(w), 3, 1)) - 1)) % 64 AS b,
         CASE WHEN (strpos('0123456789abcdef', substring(md5(w), 4, 1)) - 1) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM tok
), sp AS (
  SELECT doc_id, b, SUM(s) AS v FROM h GROUP BY doc_id, b
), nrm AS (
  SELECT doc_id, sqrt(SUM(v * v)) AS n FROM sp GROUP BY doc_id
), grid AS (
  SELECT DISTINCT doc_id, unnest(range(0, 64)) AS pos FROM documents
)
SELECT g.doc_id, CAST(g.pos AS INT) AS pos,
       ROUND(CASE WHEN nrm.n > 0 THEN COALESCE(sp.v, 0.0) / nrm.n
                  ELSE COALESCE(sp.v, 0.0) END, 6) AS val_r
FROM grid g
JOIN nrm ON g.doc_id = nrm.doc_id
LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.pos = sp.b
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def tfidf_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords
    (operators/corpus.py:tfidf_keywords): the classic distinctive-term
    extractor — one explode + one (doc, token) aggregation, document
    frequency as a count window over the same relation (bm25's
    single-scan trick), bounded per-doc top-k window."""
    from rust_cdc_validator_spark.operators.corpus import tfidf_keywords

    docs = _t(spark, sf_dir, "documents")
    return tfidf_keywords(docs, k=3)


TFIDF_KEYWORDS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), with_df AS (
  SELECT doc_id, token, tf,
         COUNT(*) OVER (PARTITION BY token) AS df_docs
  FROM tf
), scored AS (
  SELECT doc_id, token, tf, df_docs,
         tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df_docs) AS s,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df_docs)
                      DESC, token
         ) AS rnk
  FROM with_df
)
SELECT doc_id, token, tf, df_docs, round(s, 6) AS tfidf_r, rnk
FROM scored WHERE rnk <= 3
"""


def shard_mixing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle mixing diagnostics
    (operators/corpus.py:shard_mixing_report): per training shard, the
    source-distribution entropy — the monitor that says whether the
    deterministic shuffle actually interleaved sources (homogeneous
    shards = loss-spike training stretches). Shard assignment is the same
    engine-portable md5 expression the oracle rebuilds."""
    from rust_cdc_validator_spark.operators.corpus import shard_mixing_report

    docs = _t(spark, sf_dir, "documents")
    return shard_mixing_report(docs, seed=1, num_shards=16)


SHARD_MIXING_SQL = """
WITH keyed AS (
  SELECT doc_id, source, md5('1:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), b AS (
  SELECT source,
         CAST((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) % 16
              AS INT) AS shard
  FROM keyed
), per AS (
  SELECT shard, source, COUNT(*) AS n FROM b GROUP BY shard, source
), tot AS (
  SELECT shard, source, n, SUM(n) OVER (PARTITION BY shard) AS t FROM per
)
SELECT shard,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_sources,
       round(SUM(-(n * 1.0 / t) * ln(n * 1.0 / t)), 6) AS source_entropy_r
FROM tot GROUP BY shard
"""


def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version n-gram novelty (operators/corpus.py:ngram_novelty):
    the even-id half of documents plays the OLD crawl, the odd-id half the
    NEW one — what fraction of the new version's distinct 3-gram set is
    genuinely unseen. Hashed-shingle distinct + 8-byte left join; counts
    match the oracle's raw-string counts up to the standard 2⁻⁶⁴ trade."""
    from rust_cdc_validator_spark.operators.corpus import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return ngram_novelty(old, new, shingle_n=3)


NGRAM_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
  FROM toks WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) < 3
), old_s AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0
), new_s AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 1
)
SELECT COUNT(*) AS n_new_ngrams,
       CAST(COALESCE(SUM(CASE WHEN o.s IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_novel,
       COALESCE(round(SUM(CASE WHEN o.s IS NULL THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*), 6), 0.0) AS novelty_r
FROM new_s n LEFT JOIN old_s o ON n.s = o.s
"""


def events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/layout.py:zorder_value): the
    bit-interleaved (user_id, hour-of-day) sort key that makes parquet
    row-group min/max statistics prune on BOTH columns after a re-layout
    — pure shift/mask codegen, no UDF; the oracle replays the identical
    bit math."""
    from rust_cdc_validator_spark.operators.layout import zorder_value

    ev = _t(spark, sf_dir, "events")
    z = zorder_value([F.col("user_id"), F.hour("ts")], bits=12)
    return ev.select("event_id", z.alias("zval"))


EVENTS_ZORDER_SQL = """
SELECT event_id,
       (CAST((user_id >> 0) & 1 AS BIGINT) << 0) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 0) & 1 AS BIGINT) << 1) +
       (CAST((user_id >> 1) & 1 AS BIGINT) << 2) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 1) & 1 AS BIGINT) << 3) +
       (CAST((user_id >> 2) & 1 AS BIGINT) << 4) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 2) & 1 AS BIGINT) << 5) +
       (CAST((user_id >> 3) & 1 AS BIGINT) << 6) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 3) & 1 AS BIGINT) << 7) +
       (CAST((user_id >> 4) & 1 AS BIGINT) << 8) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 4) & 1 AS BIGINT) << 9) +
       (CAST((user_id >> 5) & 1 AS BIGINT) << 10) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 5) & 1 AS BIGINT) << 11) +
       (CAST((user_id >> 6) & 1 AS BIGINT) << 12) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 6) & 1 AS BIGINT) << 13) +
       (CAST((user_id >> 7) & 1 AS BIGINT) << 14) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 7) & 1 AS BIGINT) << 15) +
       (CAST((user_id >> 8) & 1 AS BIGINT) << 16) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 8) & 1 AS BIGINT) << 17) +
       (CAST((user_id >> 9) & 1 AS BIGINT) << 18) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 9) & 1 AS BIGINT) << 19) +
       (CAST((user_id >> 10) & 1 AS BIGINT) << 20) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 10) & 1 AS BIGINT) << 21) +
       (CAST((user_id >> 11) & 1 AS BIGINT) << 22) +
       (CAST((CAST(hour(ts) AS BIGINT) >> 11) & 1 AS BIGINT) << 23) AS zval
FROM events
"""


def events_user_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog (operators/sketch.py): per event type,
    the distinct-user estimate plus register-level observability — the
    persisted-mergeable sketch whose registers AND estimate a SQL engine
    can replay exactly (md5-derived 60-bit hash, integer bin-length rank,
    harmonic-mean estimate with linear-counting correction). p=10 →
    m=1024 registers, ±3.3% 1σ."""
    from rust_cdc_validator_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = hll_sketch(ev, ["event_type"], "user_id", p=10)
    nz = F.size(F.filter(F.col("registers"), lambda r: r != 0))
    return sk.select(
        "event_type",
        nz.alias("n_nonzero_registers"),
        F.array_max("registers").alias("max_rank"),
        F.round(hll_estimate(F.col("registers"), p=10), 4).alias("est_users_r"),
    )


EVENTS_USER_HLL_SQL = """
WITH h AS (
  SELECT event_type,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events
), rr AS (
  SELECT event_type,
         h >> 50 AS idx,
         CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
              ELSE 50 - (length(printf('%b',
                         h & ((CAST(1 AS BIGINT) << 50) - 1))) - 1)
         END AS rho
  FROM h
), regs AS (
  SELECT event_type, idx, MAX(rho) AS r FROM rr GROUP BY event_type, idx
), agg AS (
  SELECT event_type,
         COUNT(*) AS nz,
         SUM(power(2.0, -r)) AS s_nz,
         MAX(r) AS max_rank
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type, nz, max_rank,
         755541.746198293 / (s_nz + (1024 - nz) * 1.0) AS raw,
         1024 - nz AS zeros
  FROM agg
)
SELECT event_type,
       CAST(nz AS INT) AS n_nonzero_registers,
       CAST(max_rank AS INT) AS max_rank,
       round(CASE WHEN raw <= 2560.0 AND zeros > 0
                  THEN 1024.0 * ln(1024.0 / zeros)
                  ELSE raw END, 4) AS est_users_r
FROM est
"""


def events_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from PERSISTED daily HLL sketches —
    the union-without-recount showcase: raw events are scanned ONCE into
    per-day register arrays; every window answer is a register-wise max
    fold over ≤7 KB-sized arrays (merge-of-parts == sketch-of-union,
    bit-exactly — pytest-pinned), never a re-count of history. At 100 TB
    this is the difference between one scan per day and one scan per
    (day × window) pair. The day-level window rides a days-sized relation
    (single-task window on a BOUNDED frame — the benign class
    BENCH_NOTES.md documents). The oracle recomputes each window's
    registers from raw rows — legitimate BECAUSE the merge is exact."""
    from rust_cdc_validator_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = hll_sketch(ev, ["day"], "user_id", p=10)
    dayord = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = Window.orderBy(dayord).rangeBetween(-6, 0)
    merged = F.aggregate(
        F.collect_list("registers").over(w),
        F.array_repeat(F.lit(0), 1024),
        lambda acc, r: F.zip_with(acc, r, lambda x, y: F.greatest(x, y)),
    )
    return daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n_days_window"),
        F.round(hll_estimate(F.col("registers"), p=10), 4).alias(
            "est_users_1d"
        ),
        F.round(hll_estimate(merged, p=10), 4).alias("est_users_7d"),
    )


EVENTS_ROLLING_DISTINCT_HLL_SQL = """
WITH ev AS (
  SELECT CAST(ts AS DATE) AS eday, user_id FROM events
), days AS (
  SELECT DISTINCT eday AS day FROM ev
), win AS (
  SELECT d.day, e.eday, e.user_id
  FROM days d JOIN ev e ON e.eday BETWEEN d.day - 6 AND d.day
), h AS (
  SELECT day, eday,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM win
), rr AS (
  SELECT day, eday, h >> 50 AS idx,
         CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
              ELSE 50 - (length(printf('%b',
                         h & ((CAST(1 AS BIGINT) << 50) - 1))) - 1)
         END AS rho
  FROM h
), regs7 AS (
  SELECT day, idx, MAX(rho) AS r FROM rr GROUP BY day, idx
), est7 AS (
  SELECT day,
         755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*))) AS raw,
         1024 - COUNT(*) AS zeros
  FROM regs7 GROUP BY day
), regs1 AS (
  SELECT day, idx, MAX(rho) AS r FROM rr WHERE eday = day GROUP BY day, idx
), est1 AS (
  SELECT day,
         755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*))) AS raw,
         1024 - COUNT(*) AS zeros
  FROM regs1 GROUP BY day
), nd AS (
  SELECT day, CAST(COUNT(DISTINCT eday) AS BIGINT) AS n_days_window
  FROM win GROUP BY day
)
SELECT nd.day, nd.n_days_window,
       round(CASE WHEN est1.raw <= 2560.0 AND est1.zeros > 0
                  THEN 1024.0 * ln(1024.0 / est1.zeros)
                  ELSE est1.raw END, 4) AS est_users_1d,
       round(CASE WHEN est7.raw <= 2560.0 AND est7.zeros > 0
                  THEN 1024.0 * ln(1024.0 / est7.zeros)
                  ELSE est7.raw END, 4) AS est_users_7d
FROM nd JOIN est7 ON nd.day = est7.day JOIN est1 ON nd.day = est1.day
"""


def token_cm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (operators/sketch.py): build one 4×256
    counter table over all document tokens, then probe the exact top-10
    tokens through it — (token, exact freq, CM estimate ≥ exact). The
    whole sketch (salted md5 buckets, counter sums, min-of-rows lookup)
    replays in SQL, like the HLL sibling."""
    from rust_cdc_validator_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(10)
    )
    sk = cm_sketch(tok, [], "token", d=4, w=256)
    return top.crossJoin(sk).select(
        "token",
        "freq",
        cm_estimate(F.col("counters"), F.col("token"), d=4, w=256).alias(
            "cm_est"
        ),
    )


TOKEN_CM_COUNTS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> '' GROUP BY token
), top AS (
  SELECT token, freq FROM tf ORDER BY freq DESC, token LIMIT 10
), regs AS (
  SELECT i,
         CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || token), 1, 4)
              AS BIGINT) % 256 AS b,
         CAST(SUM(freq) AS BIGINT) AS c
  FROM tf CROSS JOIN range(4) t(i)
  GROUP BY i, b
)
SELECT top.token, top.freq, MIN(regs.c) AS cm_est
FROM top
CROSS JOIN range(4) r(i)
JOIN regs
  ON regs.i = r.i
 AND regs.b = CAST('0x' || substring(
                md5(CAST(r.i AS VARCHAR) || ':' || top.token), 1, 4)
              AS BIGINT) % 256
GROUP BY top.token, top.freq
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the event stream
    (operators/timeseries.retention_cohorts): users grouped by
    first-active week, distinct-active counts at each week of age."""
    from rust_cdc_validator_spark.operators.timeseries import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", "week")


EVENTS_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
), f AS (
  SELECT u, MIN(d) AS fd FROM ev GROUP BY u
), aged AS (
  SELECT DISTINCT ev.u,
         CAST(date_trunc('week', f.fd) AS DATE) AS cohort,
         CAST(floor(date_diff('day', date_trunc('week', f.fd),
                              date_trunc('week', ev.d)) / 7) AS INT) AS age
  FROM ev JOIN f ON ev.u = f.u
), c AS (
  SELECT cohort, age, COUNT(*) AS n_users FROM aged GROUP BY cohort, age
), s AS (
  SELECT cohort, n_users AS cohort_size FROM c WHERE age = 0
)
SELECT c.cohort, c.age, c.n_users, s.cohort_size,
       round(c.n_users * 1.0 / s.cohort_size, 4) AS retention
FROM c JOIN s ON c.cohort = s.cohort
"""


def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence trigram counts
    (operators/timeseries.event_path_ngrams) — "view -> cart -> purchase"
    path analysis as one keyed window + a tiny hash count."""
    from rust_cdc_validator_spark.operators.timeseries import event_path_ngrams

    ev = _t(spark, sf_dir, "events")
    return event_path_ngrams(ev, "user_id", "ts", "event_type", 3, "event_id")


EVENTS_PATH_TRIGRAMS_SQL = """
WITH p AS (
  SELECT event_type || ' -> ' || lead(event_type, 1) OVER w
                    || ' -> ' || lead(event_type, 2) OVER w AS path
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, COUNT(*) AS n_paths FROM p WHERE path IS NOT NULL GROUP BY path
"""


def customers_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (operators/linkage.blocked_fuzzy_pairs):
    near-identical customer names at edit distance <= 2 — entity
    resolution without the all-pairs cartesian (reference has only exact
    row equality; this is the "should have matched" companion).

    Block key = (nation, 15-char name prefix), per the operator's own
    guidance to keep blocks in the 10-10k range: nation alone gives 25
    blocks of ~N/25 rows (quadratic blow-up AND a 25-way parallelism
    ceiling at any SF), while the prefix sub-blocks grow in NUMBER with
    the corpus and hold block SIZE roughly constant — the standard
    multi-attribute blocking trade (Fellegi-Sunter): recall is scoped to
    within-block pairs by design, and the oracle replays the same block
    predicate so the approximation itself is value-checked."""
    from rust_cdc_validator_spark.operators.linkage import blocked_fuzzy_pairs

    cust = _t(spark, sf_dir, "customer").withColumn(
        "name_blk", F.substring("c_name", 1, 15)
    )
    return blocked_fuzzy_pairs(
        cust, ["c_nationkey", "name_blk"], "c_custkey", "c_name", 2
    ).drop("name_blk")


CUSTOMERS_FUZZY_PAIRS_SQL = """
SELECT a.c_nationkey AS c_nationkey,
       a.c_custkey AS id_a,
       b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND substring(a.c_name, 1, 15) = substring(b.c_name, 1, 15)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (operators/corpus.weighted_priority_sample): per source, the 5 docs
    selected by length-weighted A-ES priority keys — deterministic
    (md5-uniform), so the oracle replays the exact selection."""
    from rust_cdc_validator_spark.operators.corpus import (
        weighted_priority_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return weighted_priority_sample(
        docs, "n_chars", 5, "doc_id", "source"
    ).select("doc_id", "source", "n_chars", "sample_rank")


WEIGHTED_SAMPLE_DOCS_SQL = """
WITH k AS (
  SELECT doc_id, source, n_chars,
         ln((
           ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)
           ) * 1.0 + 0.5) / 4096.0) / CAST(n_chars AS DOUBLE) AS key
  FROM documents
), r AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY key DESC, doc_id ASC) AS INT
         ) AS sample_rank
  FROM k
)
SELECT doc_id, source, n_chars, sample_rank FROM r WHERE sample_rank <= 5
"""


def orders_price_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.q_histogram /
    q_quantiles): HDR-style integer-exact histogram of order totals in
    cents, p50/p90/p99 per priority read off the bucket midpoints —
    every bucket id, bound, and cumsum replays in SQL (no float log
    anywhere in the binning), like the HLL/CM siblings."""
    from rust_cdc_validator_spark.operators.sketch import (
        q_histogram,
        q_quantiles,
    )

    orders = _t(spark, sf_dir, "orders")
    h = q_histogram(orders, ["o_orderpriority"], "o_totalprice", s=5, scale=100)
    return q_quantiles(h, ["o_orderpriority"], [0.5, 0.9, 0.99], scale=100)


ORDERS_PRICE_QSKETCH_SQL = """
WITH u AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), b AS (
  SELECT g,
         CASE WHEN c < 32 THEN c
              ELSE (length(printf('%b', c)) - 1 - 5) * 32
                   + (c >> (length(printf('%b', c)) - 1 - 5))
         END AS bucket
  FROM u
), h AS (
  SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY g, bucket
), bounds AS (
  SELECT g, bucket, cnt,
         CASE WHEN bucket < 32 THEN bucket
              ELSE CAST(bucket - CAST(floor((bucket - 32) / 32.0) AS INT) * 32
                        AS BIGINT)
                   << CAST(floor((bucket - 32) / 32.0) AS INT)
         END AS lo,
         CASE WHEN bucket < 32 THEN bucket
              ELSE (CAST(bucket - CAST(floor((bucket - 32) / 32.0) AS INT) * 32
                         + 1 AS BIGINT)
                    << CAST(floor((bucket - 32) / 32.0) AS INT)) - 1
         END AS hi
  FROM h
), cum AS (
  SELECT g, bucket, lo, hi, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS tot
  FROM bounds
)
SELECT g AS o_orderpriority,
       round(MIN(CASE WHEN cum >= ceil(0.5 * tot) THEN (lo + hi) / 200.0 END), 4) AS p50,
       round(MIN(CASE WHEN cum >= ceil(0.9 * tot) THEN (lo + hi) / 200.0 END), 4) AS p90,
       round(MIN(CASE WHEN cum >= ceil(0.99 * tot) THEN (lo + hi) / 200.0 END), 4) AS p99
FROM cum GROUP BY g
"""


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier screen (operators/drift.robust_outliers):
    per event type, how many values sit beyond 3.5 modified z-scores —
    the monitoring query that catches a corrupted feed's value column
    without the outliers inflating their own threshold."""
    from rust_cdc_validator_spark.operators.drift import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(ev, ["event_type"], "value", z=3.5)


EVENTS_VALUE_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med,
         COUNT(value) AS n_rows
  FROM events GROUP BY event_type
), mad AS (
  SELECT o.event_type,
         quantile_cont(abs(o.value - m.med), 0.5) AS mad
  FROM events o JOIN med m ON o.event_type = m.event_type
  GROUP BY o.event_type
), fl AS (
  SELECT o.event_type, m.n_rows, m.med, d.mad,
         CASE WHEN d.mad > 0
              THEN CASE WHEN 0.6745 * abs(o.value - m.med) / d.mad > 3.5
                        THEN 1 ELSE 0 END
              ELSE CASE WHEN abs(o.value - m.med) > 0 THEN 1 ELSE 0 END
         END AS is_out
  FROM events o
  JOIN med m ON o.event_type = m.event_type
  JOIN mad d ON o.event_type = d.event_type
)
SELECT event_type,
       CAST(MIN(n_rows) AS BIGINT) AS n_rows,
       round(MIN(med), 4) AS med,
       round(MIN(mad), 4) AS mad,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers,
       round(SUM(is_out) * 1.0 / MIN(n_rows), 4) AS outlier_frac
FROM fl GROUP BY event_type
"""


def docs_markup_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML markup removal (functions/text.py:strip_markup) — the step
    before every other text gate when the corpus arrives as crawled HTML.
    The documents fixture is plain text, so the query first synthesizes a
    deterministic HTML wrapper per doc (head/title, a <b> tag around every
    ' the ', a footer exercising all six entities), then strips it. Pure
    map-side build + strip: zero shuffle end to end."""
    from rust_cdc_validator_spark.functions.text import strip_markup

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><p class="lead">'),
        F.replace(F.col("text"), F.lit(" the "), F.lit(" <b>the</b> ")),
        F.lit("</p><br/>&nbsp;&amp; &lt;footer&gt;</body></html>"),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(html, F.lit(r"<[^>]*>"), F.lit(0)))
        .cast("int")
        .alias("n_tags"),
        strip_markup(html).alias("text_clean"),
    )


DOCS_MARKUP_STRIPPED_SQL = """
WITH h AS (
  SELECT doc_id,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
           || '</title></head><body><p class="lead">'
           || replace(text, ' the ', ' <b>the</b> ')
           || '</p><br/>&nbsp;&amp; &lt;footer&gt;</body></html>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(html, '<[^>]*>')) AS INT) AS n_tags,
         regexp_replace(html, '<[^>]*>', ' ', 'g') AS s
  FROM h
)
SELECT doc_id, n_tags,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           s, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
         '\\s+', ' ', 'g')) AS text_clean
FROM stripped
"""


def embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization quality report (operators/quantize.py):
    fit per-dimension bounds on the embeddings (one agg pass, dims-sized
    driver collect), encode -> decode map-side, per-label MSE / max abs
    error — the monitor that decides when a standing SQ8 storage tier
    needs its bounds refit. floor(x*255+0.5) half-up quantization is
    replayed bit-exactly by the oracle."""
    from rust_cdc_validator_spark.operators.quantize import (
        sq8_error_report,
        sq8_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bounds = sq8_fit(emb, "embedding")
    rep = sq8_error_report(emb, "embedding", bounds, group_cols=["label"])
    return rep.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round("mse", 9).alias("mse"),
        F.round("max_abs_err", 9).alias("max_abs_err"),
    ).orderBy("label")


EMBEDDING_SQ8_ERROR_SQL = """
WITH d AS (
  -- DuckDB 1.0 lacks `unnest ... WITH ORDINALITY`; unnest +
  -- generate_subscripts expand in lockstep and give the same (val, dim).
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), b AS (
  SELECT dim, min(val) AS lo, max(val) AS hi FROM d GROUP BY dim
), q AS (
  SELECT vec_id, label, val, lo, hi,
         CASE WHEN hi > lo THEN
           greatest(0, least(255, floor((val - lo) / (hi - lo) * 255 + 0.5)))
         ELSE 0 END AS code
  FROM d JOIN b USING (dim)
), r AS (
  SELECT vec_id, label, val,
         CASE WHEN hi > lo THEN lo + code / 255.0 * (hi - lo)
         ELSE lo END AS deq
  FROM q
), per_vec AS (
  SELECT vec_id, label,
         sum((val - deq) * (val - deq)) AS sse,
         max(abs(val - deq)) AS maxe,
         count(*) AS dim_n
  FROM r GROUP BY vec_id, label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(sum(sse) / sum(dim_n), 9) AS mse,
       round(max(maxe), 9) AS max_abs_err
FROM per_vec GROUP BY label ORDER BY label
"""


_EDGE_STATE_CACHE: dict[str, str] = {}


def _trade_edge_state_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the persisted bipartite
    customer↔supplier trade edge state (operators/graphstate.py) that
    supplier_pagerank, supplier_trade_communities, trade_reach_hops, and
    trade_edge_state_stats all read. The standing-pipeline contract of
    the MinHash/LSH/IVF indexes: the lineitem⋈orders fact join runs ONCE
    (bench warm-up pays it); every graph analytic thereafter starts from
    the algorithm-ready adjacency — zero fact-table exchanges per query.
    At 100 TB this is the difference between one edge-build per day and
    one full fact scan + join per analytic."""
    path = _EDGE_STATE_CACHE.get(sf_dir)
    if path is None:
        import tempfile

        from rust_cdc_validator_spark.operators.graphstate import (
            build_edge_state,
        )

        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders")
        pair = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
            .select(
                F.concat(F.lit("c"), F.col("c").cast("string")).alias("src"),
                F.concat(F.lit("s"), F.col("s").cast("string")).alias("dst"),
                "w",
            )
        )
        path = tempfile.mkdtemp(prefix="trade_edge_state_")
        build_edge_state(pair, path, weight_col="w", directed=False)
        _EDGE_STATE_CACHE[sf_dir] = path
    return path


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the bipartite customer↔supplier trade
    graph (edge weight = lineitem count, both directions so the walk
    alternates sides): which suppliers sit at the center of the purchase
    network. r11: reads PERSISTED edge state
    (operators/graphstate.pagerank_from_state) — node roles and
    transition probabilities come from the state build, so the query is
    pure power-method supersteps (5 steps, lineage checkpointed,
    dangling mass redistributed in-plan). The oracle replays the edge
    build AND all 5 unrolled iterations in SQL from the raw tables, so
    the state path itself is value-hash-checked."""
    from rust_cdc_validator_spark.operators.graphstate import (
        pagerank_from_state,
    )

    ranks = pagerank_from_state(
        spark,
        _trade_edge_state_for(spark, sf_dir),
        damping=0.85,
        iterations=5,
    )
    return ranks.filter(F.col("node").startswith("s")).select(
        F.col("node").substr(F.lit(2), F.lit(30)).cast("long").alias("suppkey"),
        F.round("rank", 8).alias("rank_r"),
    )


def _pagerank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-method CTE chain mirroring operators/graph.pagerank
    step for step (transition probs, per-iteration dangling mass, uniform
    teleport) — generated, not handwritten, so the iteration count stays
    in ONE place."""
    ctes = [
        """pair AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
)""",
        """e0 AS (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst, w
  FROM pair
  UNION ALL
  SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR), w FROM pair
)""",
        """nodes AS (
  SELECT DISTINCT src AS node FROM e0
  UNION
  SELECT DISTINCT dst AS node FROM e0
)""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "ow AS (SELECT src, SUM(w) AS ow FROM e0 GROUP BY src)",
        """e AS (
  SELECT e0.src AS s, e0.dst AS d, e0.w / ow.ow AS p
  FROM e0 JOIN ow ON e0.src = ow.src
)""",
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""d{k} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS dm FROM r{k} r
  WHERE r.node NOT IN (SELECT src FROM ow)
)"""
        )
        ctes.append(
            f"""c{k} AS (
  SELECT e.d AS node, sum(r.rank * e.p) AS c
  FROM e JOIN r{k} r ON e.s = r.node GROUP BY e.d
)"""
        )
        ctes.append(
            f"""r{k + 1} AS (
  SELECT nodes.node,
         (1.0 - {damping}) / nn.n
           + {damping} * (coalesce(c.c, 0.0) + d{k}.dm / nn.n) AS rank
  FROM nodes LEFT JOIN c{k} c ON nodes.node = c.node
  CROSS JOIN d{k} CROSS JOIN nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey,
       round(rank, 8) AS rank_r
FROM r{iterations} WHERE node LIKE 's%'"""
    )


SUPPLIER_PAGERANK_SQL = _pagerank_oracle_sql()


def nation3_supplier_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph, Page et al. 1999 §6) over
    the persisted trade edge state: the walk restarts into NATION_3's
    suppliers, so ranks measure affinity TO that nation's supply network
    — the related-entity retrieval primitive (which other suppliers sit
    closest to this cohort through shared customers). Same power-method
    loop as supplier_pagerank with the teleport vector swapped; the
    oracle unrolls all 4 iterations with the identical seed-uniform
    teleport arithmetic, so the personalized path value-hashes too."""
    from rust_cdc_validator_spark.operators.graphstate import (
        pagerank_from_state,
    )

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    seeds = (
        sup.join(
            nat.filter(F.col("n_name") == "NATION_3"),
            sup["s_nationkey"] == nat["n_nationkey"],
        )
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
    )
    ranks = pagerank_from_state(
        spark,
        _trade_edge_state_for(spark, sf_dir),
        damping=0.85,
        iterations=4,
        seeds=seeds,
    )
    return ranks.filter(F.col("node").startswith("s")).select(
        F.col("node").substr(F.lit(2), F.lit(30)).cast("long").alias("suppkey"),
        F.round("rank", 8).alias("affinity_r"),
    )


def _ppr_oracle_sql(iterations: int = 4, damping: float = 0.85) -> str:
    """Unrolled personalized power method mirroring _pagerank_loop's
    personalized mode step for step: seed-uniform teleport vector, init
    at the teleport, (1−d)·t restart mass (the 1−d literal is emitted
    with repr so the SQL double equals the loop's F.lit(1.0 − damping)
    bit for bit). The undirected trade graph has no dangling nodes, so
    the dm terms the loop skips are omitted here too."""
    restart = repr(1.0 - damping)
    ctes = [
        """pair AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
)""",
        """e0 AS (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst, w
  FROM pair
  UNION ALL
  SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR), w FROM pair
)""",
        """nodes AS (
  SELECT DISTINCT src AS node FROM e0
  UNION
  SELECT DISTINCT dst AS node FROM e0
)""",
        "ow AS (SELECT src, SUM(w) AS ow FROM e0 GROUP BY src)",
        """e AS (
  SELECT e0.src AS s, e0.dst AS d, e0.w / ow.ow AS p
  FROM e0 JOIN ow ON e0.src = ow.src
)""",
        """seeds AS (
  SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)""",
        """ns AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS c
  FROM nodes JOIN seeds ON nodes.node = seeds.node
)""",
        """t AS (
  SELECT nodes.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.c ELSE 0.0 END AS t
  FROM nodes LEFT JOIN seeds s ON nodes.node = s.node CROSS JOIN ns
)""",
        "r0 AS (SELECT node, t AS rank FROM t)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""c{k} AS (
  SELECT e.d AS node, sum(r.rank * e.p) AS c
  FROM e JOIN r{k} r ON e.s = r.node GROUP BY e.d
)"""
        )
        ctes.append(
            f"""r{k + 1} AS (
  SELECT t.node, {restart} * t.t + {damping} * coalesce(c.c, 0.0) AS rank
  FROM t LEFT JOIN c{k} c ON t.node = c.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey,
       round(rank, 8) AS affinity_r
FROM r{iterations} WHERE node LIKE 's%'"""
    )


NATION3_SUPPLIER_AFFINITY_SQL = _ppr_oracle_sql()


def supplier_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.label_propagation) on the
    bipartite customer↔supplier trade graph: 3 synchronous supersteps of
    min-tie-break label propagation — which market segments emerge from
    who-buys-from-whom, the clustering signal PageRank's importance score
    flattens. Returns every supplier's community label. The oracle
    replays all 3 unrolled supersteps (count-argmax windows included) in
    generated SQL, so the iterative path is value-hash-checked like
    supplier_pagerank's. r11: reads the PERSISTED trade edge state
    (operators/graphstate.label_propagation_from_state) — the
    symmetrized neighbor relation is the state's pre-exploded adjacency,
    so the query is pure supersteps; the oracle still rebuilds
    everything from the raw tables."""
    from rust_cdc_validator_spark.operators.graphstate import (
        label_propagation_from_state,
    )

    labels = label_propagation_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), iterations=3
    )
    return labels.filter(F.col("node").startswith("s")).select(
        F.col("node").substr(F.lit(2), F.lit(30)).cast("long").alias("suppkey"),
        F.col("label").alias("community"),
    )


def _lpa_oracle_sql(iterations: int = 3) -> str:
    """Unrolled label-propagation CTE chain mirroring
    operators/graph.label_propagation step for step (symmetrized neighbor
    relation, per-node count argmax with DESC-count/ASC-label ordering) —
    generated, like the PageRank oracle, so the iteration count lives in
    one place."""
    ctes = [
        """pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        """nbr AS (
  SELECT a AS n, b AS nb FROM pair
  UNION ALL
  SELECT b AS n, a AS nb FROM pair
)""",
        "l0 AS (SELECT DISTINCT n AS node, n AS label FROM nbr)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""l{k + 1} AS (
  SELECT n AS node, label FROM (
    SELECT nbr.n, l.label, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY nbr.n
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM nbr JOIN l{k} l ON nbr.nb = l.node
    GROUP BY nbr.n, l.label
  ) t WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey, label AS community
FROM l{iterations} WHERE node LIKE 's%'"""
    )


SUPPLIER_TRADE_COMMUNITIES_SQL = _lpa_oracle_sql()


def trade_cheapest_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded WEIGHTED shortest-path costs (operators/graph.
    weighted_shortest_paths via graphstate.weighted_paths_from_state):
    from suppliers 1-3, relax over edge length 1/w — stronger trade
    ties are shorter distances (Newman 2001) — for up to 4 edges. The
    weighted sibling of ``trade_reach_hops``: BFS ranks reach by hop
    count, this ranks it by tie strength, and a cheaper MORE-hop route
    beats a direct weak tie (the case hop counting cannot express).
    Bellman-Ford relaxation with frontier pruning; all arithmetic is
    per-path double sums and MIN — order-independent — so the oracle
    unrolls the same 4 relaxation rounds as chained CTEs and the whole
    distance assignment value-hashes exactly. Reads the persisted trade
    edge state; the oracle rebuilds from raw facts."""
    from rust_cdc_validator_spark.operators.graphstate import (
        weighted_paths_from_state,
    )

    seeds = spark.createDataFrame(
        [("s1",), ("s2",), ("s3",)], "node string"
    )
    return weighted_paths_from_state(
        spark,
        _trade_edge_state_for(spark, sf_dir),
        seeds,
        max_hops=4,
        inverse_weight=True,
    )


def _sssp_oracle_sql(max_hops: int = 4) -> str:
    """Unrolled Bellman-Ford CTE chain mirroring graph._sssp_loop round
    for round (same 1/w lengths, same per-path double sums, same MIN) —
    generated so the hop count lives in ONE place."""
    ctes = [
        """pair AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
)""",
        """e AS (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst,
         1.0 / w AS len
  FROM pair
  UNION ALL
  SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR), 1.0 / w
  FROM pair
)""",
        """d0 AS (
  SELECT node, 0.0 AS dist
  FROM (VALUES ('s1'), ('s2'), ('s3')) AS seeds(node)
)""",
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"""d{h} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{h - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.len AS dist
    FROM d{h - 1} p JOIN e ON p.node = e.src
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, dist FROM d{max_hops}"
    )


TRADE_CHEAPEST_REACH_SQL = _sssp_oracle_sql(4)


def trade_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS (operators/graph.shortest_hops): minimum hop distance
    from NATION_3's suppliers across the undirected customer↔supplier
    trade graph, capped at 4 hops — "how far does one nation's supply
    network reach" (hop 1 = their direct customers, hop 2 = those
    customers' other suppliers, …). Node-level output so the whole
    distance assignment value-hashes; the oracle is a bounded-depth
    recursive CTE over the same edge relation. r11: reads the PERSISTED
    trade edge state (operators/graphstate.shortest_hops_from_state) —
    the direction-expanded adjacency is a parquet scan, so the query is
    pure frontier supersteps; the oracle still rebuilds from raw."""
    from rust_cdc_validator_spark.operators.graphstate import (
        shortest_hops_from_state,
    )

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    seeds = (
        sup.join(
            nat.filter(F.col("n_name") == "NATION_3"),
            sup["s_nationkey"] == nat["n_nationkey"],
        )
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
    )
    return shortest_hops_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), seeds, max_hops=4
    )


TRADE_REACH_HOPS_SQL = """
WITH RECURSIVE
pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e AS (SELECT a AS s, b AS d FROM pair UNION ALL SELECT b AS s, a AS d FROM pair),
seeds AS (
  SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
walk(node, h) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.d, w.h + 1 FROM walk w JOIN e ON e.s = w.node WHERE w.h < 4
)
SELECT node, CAST(MIN(h) AS INT) AS hops FROM walk GROUP BY node
"""


def trade_edge_state_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-edge-state observability (operators/graphstate.py): per
    graph side (customer/supplier), node count, total and max degree,
    and total edge weight — read entirely from the state's ``nodes/``
    relation, never from the fact tables. The oracle recomputes every
    number from raw lineitem⋈orders in SQL, so the state build's
    canonicalization, weight sums, and degree attachment are all
    value-hash-checked — the correctness gate for every *_from_state
    consumer sharing this state."""
    from rust_cdc_validator_spark.operators.graphstate import (
        edge_state_nodes,
    )

    nodes = edge_state_nodes(spark, _trade_edge_state_for(spark, sf_dir))
    return (
        nodes.groupBy(F.col("node").substr(1, 1).alias("side"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("out_deg").cast("long").alias("total_deg"),
            F.max("out_deg").cast("long").alias("max_deg"),
            F.round(F.sum("out_w"), 3).alias("total_w"),
        )
    )


TRADE_EDGE_STATE_STATS_SQL = """
WITH pair AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
), nodes AS (
  SELECT 'c' AS side, c AS key, COUNT(*) AS deg, SUM(w) AS ww
  FROM pair GROUP BY c
  UNION ALL
  SELECT 's' AS side, s AS key, COUNT(*) AS deg, SUM(w) AS ww
  FROM pair GROUP BY s
)
SELECT side,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(deg) AS BIGINT) AS total_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg,
       round(SUM(ww), 3) AS total_w
FROM nodes GROUP BY side
"""


_ADV_EDGE_STATE_CACHE: dict[str, str] = {}
_ADV_EDGE_BASE_CACHE: dict[str, str] = {}


def _advanced_trade_edge_state_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the trade edge state the
    INCREMENTAL way: a base version from pre-1999 facts, then
    ``operators/graphstate.advance_edge_state`` folds the 1999+ co-trade
    delta into a new version — the standing-pipeline daily cycle where
    the fact scan is paid once and the graph stays current by folding
    deltas. The audit query's oracle recomputes the stats from the FULL
    fact tables, so base+delta == full-rebuild is value-hash-checked."""
    path = _ADV_EDGE_STATE_CACHE.get(sf_dir)
    if path is None:
        import tempfile

        from rust_cdc_validator_spark.operators.graphstate import (
            advance_edge_state,
            build_edge_state,
        )

        def _pairs(pred) -> DataFrame:
            li = _t(spark, sf_dir, "lineitem").filter(pred)
            o = _t(spark, sf_dir, "orders")
            return (
                li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .groupBy(
                    F.col("o_custkey").alias("c"),
                    F.col("l_suppkey").alias("s"),
                )
                .agg(F.count(F.lit(1)).cast("double").alias("w"))
                .select(
                    F.concat(F.lit("c"), F.col("c").cast("string")).alias(
                        "src"
                    ),
                    F.concat(F.lit("s"), F.col("s").cast("string")).alias(
                        "dst"
                    ),
                    "w",
                )
            )

        cutoff = F.lit("1999-01-01")
        base_path = tempfile.mkdtemp(prefix="trade_edge_base_")
        _ADV_EDGE_BASE_CACHE[sf_dir] = base_path
        build_edge_state(
            _pairs(F.col("l_shipdate") < cutoff),
            base_path,
            weight_col="w",
            directed=False,
        )
        path = tempfile.mkdtemp(prefix="trade_edge_adv_")
        advance_edge_state(
            spark,
            base_path,
            _pairs(F.col("l_shipdate") >= cutoff),
            path,
            weight_col="w",
        )
        _ADV_EDGE_STATE_CACHE[sf_dir] = path
    return path


def trade_edge_state_advance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance audit (operators/graphstate.
    advance_edge_state): per graph side, adjacency-row count, distinct
    partner count, and total/max edge weight of the ADVANCED state —
    base (pre-1999 facts) + folded 1999+ delta — while the oracle
    recomputes every number from the full fact tables. A value-hash
    match IS the proof that folding a co-trade delta into persisted
    state equals rebuilding from scratch: canonicalization, weight
    sums, and direction expansion all survive the advance. Reads only
    state parquet; zero fact exchanges in the audited plan."""
    from rust_cdc_validator_spark.operators.graphstate import (
        edge_state_adjacency,
    )

    adj = edge_state_adjacency(
        spark, _advanced_trade_edge_state_for(spark, sf_dir)
    )
    return adj.groupBy(F.col("src").substr(1, 1).alias("side")).agg(
        F.count(F.lit(1)).cast("long").alias("n_adj_rows"),
        F.countDistinct("dst").cast("long").alias("n_partners"),
        F.round(F.sum("w"), 3).alias("total_w"),
        F.round(F.max("w"), 3).alias("max_w"),
    )


TRADE_EDGE_STATE_ADVANCE_AUDIT_SQL = """
WITH pair AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
), e AS (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst, w
  FROM pair
  UNION ALL
  SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR), w FROM pair
)
SELECT substr(src, 1, 1) AS side,
       CAST(COUNT(*) AS BIGINT) AS n_adj_rows,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_partners,
       round(SUM(w), 3) AS total_w,
       round(MAX(w), 3) AS max_w
FROM e
GROUP BY substr(src, 1, 1)
"""


def events_type_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (operators/sketch.py): for every event-type pair,
    the distinct-user union (register-wise max merge — exact over the
    sketches) and the inclusion–exclusion intersection estimate — the
    "how much do these segments share" question a persisted sketch store
    answers WITHOUT re-reading raw history. Pair fan-out is groups², fine
    for segment-level sketches (registers are KB-sized); the raw data is
    read exactly once to build the per-type sketches."""
    from rust_cdc_validator_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = hll_sketch(ev, ["event_type"], "user_id", p=10)
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("registers").alias("_ra")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("registers").alias("_rb")
    )
    est_a = hll_estimate(F.col("_ra"), p=10)
    est_b = hll_estimate(F.col("_rb"), p=10)
    est_u = hll_estimate(hll_merge(F.col("_ra"), F.col("_rb")), p=10)
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.round(est_a, 4).alias("est_a"),
            F.round(est_b, 4).alias("est_b"),
            F.round(est_u, 4).alias("est_union"),
            F.round(
                F.greatest(F.lit(0.0), est_a + est_b - est_u), 4
            ).alias("est_intersection"),
        )
    )


EVENTS_TYPE_OVERLAP_HLL_SQL = """
WITH h AS (
  SELECT event_type,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events
), rr AS (
  SELECT event_type,
         h >> 50 AS idx,
         CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51
              ELSE 50 - (length(printf('%b',
                         h & ((CAST(1 AS BIGINT) << 50) - 1))) - 1)
         END AS rho
  FROM h
), regs AS (
  SELECT event_type, idx, MAX(rho) AS r FROM rr GROUP BY event_type, idx
), single_est AS (
  SELECT event_type,
         CASE WHEN 755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*)) * 1.0)
                   <= 2560.0 AND 1024 - COUNT(*) > 0
              THEN 1024.0 * ln(1024.0 / (1024 - COUNT(*)))
              ELSE 755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*)) * 1.0)
         END AS est
  FROM regs GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM regs) a
  JOIN (SELECT DISTINCT event_type FROM regs) b
    ON a.event_type < b.event_type
), umax AS (
  SELECT p.type_a, p.type_b, g.idx, MAX(g.r) AS r
  FROM pairs p JOIN regs g
    ON g.event_type = p.type_a OR g.event_type = p.type_b
  GROUP BY p.type_a, p.type_b, g.idx
), union_est AS (
  SELECT type_a, type_b,
         CASE WHEN 755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*)) * 1.0)
                   <= 2560.0 AND 1024 - COUNT(*) > 0
              THEN 1024.0 * ln(1024.0 / (1024 - COUNT(*)))
              ELSE 755541.746198293 / (SUM(power(2.0, -r)) + (1024 - COUNT(*)) * 1.0)
         END AS est_u
  FROM umax GROUP BY type_a, type_b
)
SELECT u.type_a, u.type_b,
       round(sa.est, 4) AS est_a,
       round(sb.est, 4) AS est_b,
       round(u.est_u, 4) AS est_union,
       round(greatest(0.0, sa.est + sb.est - u.est_u), 4) AS est_intersection
FROM union_est u
JOIN single_est sa ON u.type_a = sa.event_type
JOIN single_est sb ON u.type_b = sb.event_type
"""


def embedding_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening (operators/pca.py): fit 8 principal axes on the
    embedding corpus (one mapInPandas scatter-matrix pass, d×d driver
    eigh), project every vector map-side with whitening, and report each
    label's centroid displacement in whitened units — the "is this class
    separable after decorrelation" probe that guides SemDeDup cell counts
    and cosine thresholds. Rows-only: the eigendecomposition is not
    SQL-expressible; numpy equivalence + partition invariance are pinned
    in tests/test_pca.py."""
    from rust_cdc_validator_spark.operators.pca import fit_pca, pca_project

    emb = _t(spark, sf_dir, "embeddings")
    k = 8
    model = fit_pca(emb, "embedding", k=k)
    proj = emb.select(
        "label",
        pca_project(F.col("embedding"), model, whiten=True).alias("p"),
    )
    comp_avgs = [F.avg(F.col("p")[i]).alias(f"_m{i}") for i in range(k)]
    per_label = proj.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"), *comp_avgs
    )
    norm = F.sqrt(
        sum(F.col(f"_m{i}") * F.col(f"_m{i}") for i in range(k))
    )
    return per_label.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round(norm, 6).alias("centroid_shift_w"),
    ).orderBy("label")


def docs_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (operators/layout.plan_compaction):
    stream documents in doc_id order into ~64 KiB output bins via the
    two-phase prefix sum (range exchange + broadcast offsets — no
    single-task global window), then report each bin's fill. The OPTIMIZE
    companion to events_zorder; the oracle replays the running sum with a
    plain window cumsum, so the scalable plan is value-checked against
    the textbook one."""
    from rust_cdc_validator_spark.operators.layout import plan_compaction

    docs = _t(spark, sf_dir, "documents")
    f = docs.select("doc_id", F.octet_length("text").cast("long").alias("sz"))
    plan = plan_compaction(f, "sz", ["doc_id"], 64 * 1024)
    return plan.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("sz").alias("bin_bytes"),
    )


DOCS_COMPACTION_PLAN_SQL = """
WITH f AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS sz FROM documents
), c AS (
  SELECT doc_id, sz,
         coalesce(sum(sz) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM f
)
SELECT CAST(floor(cb / 65536) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sz) AS BIGINT) AS bin_bytes
FROM c GROUP BY 1
"""


def doc_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report
    (operators/corpus.length_bucket_batches): documents grouped into
    power-of-two token-length bands and fixed-count batches, with the
    padding cost of batching each band — the pad-to-batch-max waste a
    dynamic-batching inference layout exists to minimize."""
    from rust_cdc_validator_spark.operators.corpus import (
        length_bucket_batches,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    b = length_bucket_batches(toks, "doc_id", "n_tokens", batch_size=16, shards=8)
    per_batch = b.groupBy("shard", "bucket", "batch").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("n_tokens").alias("_mx"),
        F.sum("n_tokens").alias("_tok"),
    )
    return per_batch.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("_n").cast("long").alias("n_docs"),
        F.sum(F.col("_n") * F.col("_mx")).cast("long").alias("padded_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("_tok") / F.sum(F.col("_n") * F.col("_mx")),
            6,
        ).alias("pad_waste_r"),
    )


DOC_LENGTH_BATCHES_SQL = """
WITH toks AS (
  SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens,
         (strpos('0123456789abcdef',
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS shard
  FROM documents
), bk AS (
  SELECT doc_id, n_tokens, shard,
         CASE WHEN n_tokens <= 1 THEN 0
              ELSE length(printf('%b', n_tokens - 1)) END AS bucket
  FROM toks
), rn AS (
  SELECT shard, bucket, n_tokens,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard, bucket
             ORDER BY doc_id) - 1) / 16.0) AS INT) AS batch
  FROM bk
), per_batch AS (
  SELECT shard, bucket, batch,
         COUNT(*) AS n, MAX(n_tokens) AS mx, SUM(n_tokens) AS tok
  FROM rn GROUP BY shard, bucket, batch
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n * mx) AS BIGINT) AS padded_tokens,
       round(1.0 - CAST(SUM(tok) AS DOUBLE) / SUM(n * mx), 6) AS pad_waste_r
FROM per_batch GROUP BY bucket
"""


def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/privacy.py): is the
    customer table releasable on the quasi-identifiers (nation, market
    segment, balance band)? One hash aggregation with map-side partials +
    a groups-sized re-aggregation — the structural-risk complement to the
    regex PII scrub. k=5, l=3 with the customer name standing in as the
    sensitive column (the synthetic table carries no true secret; names
    are per-row distinct, so diversity reduces to group size — the
    pipeline is what's exercised)."""
    from rust_cdc_validator_spark.operators.privacy import k_anonymity_report

    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("int")
    )
    return k_anonymity_report(
        cust,
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
        sensitive_col="c_name",
        l=3,
    )


CUSTOMERS_K_ANONYMITY_SQL = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS INT) AS bal_band,
         COUNT(*) AS group_rows,
         COUNT(DISTINCT c_name) AS sensitive_values
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / 1000) AS INT)
), agg AS (
  SELECT CAST(SUM(group_rows) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN group_rows < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS small_groups,
         CAST(SUM(CASE WHEN group_rows < 5 THEN group_rows ELSE 0 END)
              AS BIGINT) AS rows_at_risk,
         CAST(MIN(group_rows) AS BIGINT) AS min_group_rows,
         CAST(SUM(CASE WHEN sensitive_values < 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS low_diversity_groups,
         CAST(SUM(CASE WHEN sensitive_values < 3 THEN group_rows ELSE 0 END)
              AS BIGINT) AS rows_low_diversity
  FROM g
)
SELECT *, round(CAST(rows_at_risk AS DOUBLE) / n_rows, 6) AS at_risk_ratio
FROM agg
"""


def nation_balance_spend_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation
    (operators/drift.spearman_corr) between a customer's account balance
    and their lifetime order spend — the monotone-association drift
    monitor (average-rank ties, engine-portable, so the oracle replays
    the ranks exactly). Customers without orders count as zero spend."""
    from rust_cdc_validator_spark.operators.drift import spearman_corr

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("_spend")
    )
    joined = (
        cust.join(spend, cust["c_custkey"] == spend["o_custkey"], "left")
        .select(
            "c_nationkey",
            F.col("c_acctbal"),
            F.coalesce(F.col("_spend"), F.lit(0.0)).alias("spend"),
        )
    )
    rep = spearman_corr(joined, ["c_nationkey"], "c_acctbal", "spend")
    # + 0.0 collapses IEEE negative zero (round can yield -0.0 on tiny
    # negative correlations; engines render it differently)
    return rep.select(
        "c_nationkey",
        "n_rows",
        (F.round("spearman_r", 6) + F.lit(0.0)).alias("spearman_r"),
    )


NATION_BALANCE_SPEND_CORR_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(o_totalprice) AS s FROM orders GROUP BY o_custkey
), base AS (
  SELECT c.c_nationkey, c.c_acctbal,
         COALESCE(CAST(sp.s AS DOUBLE), 0.0) AS spend
  FROM customer c LEFT JOIN spend sp ON c.c_custkey = sp.o_custkey
), ranked AS (
  SELECT c_nationkey,
         RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
           + (COUNT(*) OVER (PARTITION BY c_nationkey, c_acctbal) - 1) / 2.0
           AS rx,
         RANK() OVER (PARTITION BY c_nationkey ORDER BY spend)
           + (COUNT(*) OVER (PARTITION BY c_nationkey, spend) - 1) / 2.0
           AS ry
  FROM base
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(corr(rx, ry), 6) + 0.0 AS spearman_r
FROM ranked GROUP BY c_nationkey
"""


def customers_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage
    (operators/linkage.sorted_neighborhood_pairs): the O(N·w) second pass
    of the record-linkage family — near-identical customer names among
    each row's 5 sort neighbors, windowed inside the same 15-char prefix
    blocks as customers_fuzzy_pairs so no sort slice becomes one task.
    The oracle replays the neighborhood as a row_number band join."""
    from rust_cdc_validator_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    cust = _t(spark, sf_dir, "customer").withColumn(
        "name_blk", F.substring("c_name", 1, 15)
    )
    return sorted_neighborhood_pairs(
        cust,
        ["c_name"],
        "c_custkey",
        "c_name",
        max_dist=2,
        window=5,
        block_cols=["name_blk"],
    )


CUSTOMERS_SORTED_NEIGHBORHOOD_SQL = """
WITH r AS (
  SELECT substring(c_name, 1, 15) AS blk, c_custkey AS id, c_name,
         ROW_NUMBER() OVER (PARTITION BY substring(c_name, 1, 15)
                            ORDER BY c_name, c_custkey) AS rn
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM r a JOIN r b
  ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 5
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


def events_type_hour_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (operators/drift.mutual_information) between
    event type and hour-of-day — the categorical-dependence monitor
    (correlation can't see non-ordinal relations). Exact from counts: one
    (x,y) hash agg; marginals re-aggregate from the cells relation, never
    from the data."""
    from rust_cdc_validator_spark.operators.drift import mutual_information

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type", F.hour("ts").alias("hour"))
    rep = mutual_information(base, "event_type", "hour")
    return rep.select(
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        F.round("redundancy", 6).alias("redundancy"),
    )


def orders_record_price_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (operators/pareto.pareto_frontier_2d):
    record-setting orders — the skyline of (earliest date, highest price),
    i.e. every order whose price beat every earlier-or-same-day order.
    The SKYLINE OF dominance query WITHOUT the quadratic self-join: one
    per-date max agg + one range-exchanged running-record scan
    (prefix_max — no single-task global window). The oracle replays the
    running max with a plain window."""
    from rust_cdc_validator_spark.operators.pareto import pareto_frontier_2d

    orders = _t(spark, sf_dir, "orders")
    return pareto_frontier_2d(
        orders, "o_orderdate", "o_totalprice", minimize_x=True, maximize_y=True
    )


ORDERS_RECORD_PRICE_FRONTIER_SQL = """
WITH cand AS (
  SELECT o_orderdate, MAX(o_totalprice) AS o_totalprice
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY o_orderdate
), c AS (
  SELECT o_orderdate, o_totalprice,
         MAX(o_totalprice) OVER (
           ORDER BY o_orderdate
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM cand
)
SELECT o_orderdate, o_totalprice FROM c WHERE pm IS NULL OR o_totalprice > pm
"""


def parts_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/basket.association_rules)
    over order baskets: which part pairs co-sell beyond chance, as
    support/confidence/lift — the A-priori pair core. The quadratic
    per-basket fan-out is capped (max_basket_size) and the top-100 cut
    orders by the EXACT integer lift ratio, so the oracle replays the
    whole rule table."""
    from rust_cdc_validator_spark.operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=3, top_k=100
    )


PARTS_ASSOCIATION_RULES_SQL = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), sz AS (
  SELECT b FROM bi GROUP BY b HAVING COUNT(*) <= 1000
), kept AS (
  SELECT bi.b, bi.i FROM bi JOIN sz USING (b)
), nb AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM kept
), it AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM kept GROUP BY i
), p AS (
  SELECT a.i AS x, c.i AS y, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
  GROUP BY a.i, c.i HAVING COUNT(*) >= 3
), dirs AS (
  SELECT x AS antecedent, y AS consequent, n_pair FROM p
  UNION ALL
  SELECT y AS antecedent, x AS consequent, n_pair FROM p
)
SELECT antecedent, consequent, n_pair,
       round(CAST(n_pair AS DOUBLE) / nb.n, 6) AS support,
       round(CAST(n_pair AS DOUBLE) / na.ni, 6) AS confidence,
       round(CAST(n_pair AS DOUBLE) * nb.n / (na.ni * nc.ni), 6) AS lift
FROM dirs
JOIN it na ON dirs.antecedent = na.i
JOIN it nc ON dirs.consequent = nc.i
CROSS JOIN nb
ORDER BY CAST(n_pair AS DOUBLE) * nb.n / (na.ni * nc.ni) DESC,
         antecedent, consequent
LIMIT 100
"""


def customer_balance_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table (operators/drift.decile_lift): does account
    balance predict heavy ordering (≥12 orders)? Exact global ranks ride
    the two-phase prefix scan (no single-task Window.orderBy over the
    customer table); per-decile rate, lift vs base rate, and cumulative
    capture replay in SQL with ROW_NUMBER arithmetic."""
    from rust_cdc_validator_spark.operators.drift import decile_lift

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    oc = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_no"))
    lab = cust.join(oc, cust["c_custkey"] == oc["o_custkey"], "left").select(
        "c_custkey",
        "c_acctbal",
        (F.coalesce(F.col("_no"), F.lit(0)) >= 12).cast("int").alias("_y"),
    )
    return decile_lift(lab, "c_acctbal", "_y", "c_custkey")


CUSTOMER_BALANCE_LIFT_SQL = """
WITH oc AS (
  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
), lab AS (
  SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS s,
         CASE WHEN COALESCE(oc.n, 0) >= 12 THEN 1 ELSE 0 END AS y
  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
), r AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY s DESC, c_custkey) - 1 AS rk FROM lab
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p FROM lab
), g AS (
  SELECT CAST(FLOOR(CAST(rk AS DOUBLE) * 10 / t.n) AS INT) AS bucket, y
  FROM r CROSS JOIN t
), per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM g GROUP BY bucket
)
SELECT bucket, n_rows, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS rate,
       round((CAST(n_pos AS DOUBLE) / n_rows)
             / (CAST(t.p AS DOUBLE) / t.n), 6) AS lift,
       round(CAST(SUM(n_pos) OVER (ORDER BY bucket) AS DOUBLE) / t.p, 6)
         AS cum_capture
FROM per CROSS JOIN t
"""


def docs_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI (operators/corpus.bigram_pmi): adjacent
    token pairs scored ln(p(w1,w2)/(p(w1)p(w2))) with a min-count screen —
    phrase discovery for tokenizer/vocab work. Bigrams fan out map-side
    (array-slice zip, no self-join); the top-k orders by the EXACT integer
    ratio (ln is monotone) so the cut is engine-portable."""
    from rust_cdc_validator_spark.operators.corpus import bigram_pmi

    docs = _t(spark, sf_dir, "documents")
    return bigram_pmi(docs, "text", min_count=3, top_k=50)


DOCS_BIGRAM_PMI_SQL = """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS tk
  FROM documents
), tok AS (
  SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS i FROM d
), bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), c AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
), t AS (
  SELECT SUM(n_pair) AS tot FROM c
), l AS (
  SELECT w1, SUM(n_pair) AS n1 FROM c GROUP BY w1
), r AS (
  SELECT w2, SUM(n_pair) AS n2 FROM c GROUP BY w2
)
SELECT w1, w2, n_pair,
       round(ln(CAST(n_pair AS DOUBLE) * tot / (n1 * n2)), 6) AS pmi
FROM c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
WHERE n_pair >= 3
ORDER BY CAST(n_pair AS DOUBLE) * tot / (n1 * n2) DESC, w1, w2
LIMIT 50
"""


def events_value_hour_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend (operators/drift.ols_by_group) of value
    against hour-of-day: slope/intercept/r² from the five classical sums
    in ONE hash aggregation — "is this metric climbing through the day,
    and in which segment" (drift_report says the mean moved; this says
    how fast, per type)."""
    from rust_cdc_validator_spark.operators.drift import ols_by_group

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.hour("ts").alias("hour"), F.col("value")
    )
    rep = ols_by_group(base, ["event_type"], "hour", "value")
    return rep.select(
        "event_type",
        "n",
        F.round("slope", 6).alias("slope_r"),
        F.round("intercept", 6).alias("intercept_r"),
        F.round("r2", 6).alias("r2_r"),
    )


EVENTS_VALUE_HOUR_TREND_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM b GROUP BY event_type
), c AS (
  SELECT event_type, n,
         sxy - sx * sy / n AS cov_n,
         sxx - sx * sx / n AS varx_n,
         syy - sy * sy / n AS vary_n,
         sx, sy
  FROM s
)
SELECT event_type, n,
       round(cov_n / nullif(varx_n, 0), 6) AS slope_r,
       round((sy - (cov_n / nullif(varx_n, 0)) * sx) / n, 6) AS intercept_r,
       round((cov_n * cov_n) / nullif(varx_n * vary_n, 0), 6) AS r2_r
FROM c
"""


def orders_price_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift (operators/drift.ks_two_sample)
    between early-era (< 1998) and late-era order prices — the
    binning-free companion to PSI: D = max CDF gap over observed values,
    with the 95% critical threshold alongside. Both cumulative counts
    ride ONE two-phase prefix scan (no single-task global window); the
    oracle replays the exact integer-count arithmetic with a plain window
    cumsum."""
    from rust_cdc_validator_spark.operators.drift import ks_two_sample

    orders = _t(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    late = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    return ks_two_sample(early, late, "o_totalprice")


ORDERS_PRICE_KS_DRIFT_SQL = """
WITH pooled AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ca,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END AS cb
  FROM orders WHERE o_totalprice IS NOT NULL
), cells AS (
  SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM pooled GROUP BY v
), t AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM cells
), c AS (
  SELECT v,
         SUM(na) OVER (ORDER BY v) AS cna,
         SUM(nb) OVER (ORDER BY v) AS cnb
  FROM cells
), d AS (
  SELECT v,
         ABS(CAST(cna AS DOUBLE) / t.ta - CAST(cnb AS DOUBLE) / t.tb) AS dd
  FROM c CROSS JOIN t
), mx AS (SELECT MAX(dd) AS m FROM d)
SELECT t.ta AS n_a, t.tb AS n_b, round(mx.m, 6) AS ks_d,
       (SELECT MIN(v) FROM d CROSS JOIN mx WHERE d.dd = mx.m) AS at_value,
       round(1.358 * sqrt(CAST(t.ta + t.tb AS DOUBLE) / (t.ta * t.tb)), 6)
         AS critical_95
FROM t CROSS JOIN mx
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user event streams
    (operators/timeseries.markov_transitions): per consecutive event pair
    within a user's timeline (event_id tie-break for a total order),
    transition counts row-normalized to conditional probabilities — the
    "what happens after a view" question path n-grams count raw. One
    user-keyed window + a |types|²-sized count agg."""
    from rust_cdc_validator_spark.operators.timeseries import (
        markov_transitions,
    )

    ev = _t(spark, sf_dir, "events")
    rep = markov_transitions(ev, "user_id", "ts", "event_type", "event_id")
    return rep.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round("prob", 6).alias("prob_r"),
    )


EVENTS_MARKOV_TRANSITIONS_SQL = """
WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type
), t AS (
  SELECT from_type, SUM(n_transitions) AS tot FROM c GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n_transitions,
       round(CAST(c.n_transitions AS DOUBLE) / t.tot, 6) AS prob_r
FROM c JOIN t ON c.from_type = t.from_type
"""


def events_type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi² + Cramér's V (operators/drift.chi_squared) between
    event type and hour-of-day — the frequentist companion to
    events_type_hour_mi (same cells-sized plan; zero-observed cells enter
    via the χ² = n(Σn_xy²/(n_x·n_y) − 1) identity, so the full grid never
    materializes)."""
    from rust_cdc_validator_spark.operators.drift import chi_squared

    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type", F.hour("ts").alias("hour"))
    rep = chi_squared(base, "event_type", "hour")
    return rep.select(
        "n",
        "dof",
        F.round("chi2", 6).alias("chi2"),
        F.round("cramers_v", 6).alias("cramers_v"),
    )


EVENTS_TYPE_HOUR_CHI2_SQL = """
WITH b AS (
  SELECT event_type AS x, EXTRACT(hour FROM ts) AS y FROM events
), j AS (
  SELECT x, y, CAST(COUNT(*) AS DOUBLE) AS nxy FROM b GROUP BY x, y
), t AS (
  SELECT SUM(nxy) AS n FROM j
), mx AS (
  SELECT x, SUM(nxy) AS nx FROM j GROUP BY x
), my AS (
  SELECT y, SUM(nxy) AS ny FROM j GROUP BY y
), agg AS (
  -- NULL categories stay in the sum and the counts, mirroring the
  -- Spark operator's struct-wrapped null-safe grouping: the marginal
  -- joins are IS NOT DISTINCT FROM, and the distinct counts add the
  -- NULL category back (COUNT(DISTINCT) excludes it)
  SELECT SUM((nxy * nxy) / (nx * ny)) AS s,
         COUNT(DISTINCT j.x)
           + MAX(CASE WHEN j.x IS NULL THEN 1 ELSE 0 END) AS rx,
         COUNT(DISTINCT j.y)
           + MAX(CASE WHEN j.y IS NULL THEN 1 ELSE 0 END) AS ry
  FROM j
  JOIN mx ON j.x IS NOT DISTINCT FROM mx.x
  JOIN my ON j.y IS NOT DISTINCT FROM my.y
)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST((rx - 1) * (ry - 1) AS BIGINT) AS dof,
       round(t.n * (s - 1.0), 6) AS chi2,
       round(CASE WHEN least(rx, ry) > 1
                  THEN sqrt(greatest(t.n * (s - 1.0), 0.0)
                            / (t.n * (least(rx, ry) - 1)))
                  ELSE 0.0 END, 6) AS cramers_v
FROM agg CROSS JOIN t
"""


EVENTS_TYPE_HOUR_MI_SQL = """
WITH b AS (
  SELECT event_type AS x, EXTRACT(hour FROM ts) AS y FROM events
), j AS (
  SELECT x, y, CAST(COUNT(*) AS DOUBLE) AS nxy FROM b GROUP BY x, y
), t AS (
  SELECT SUM(nxy) AS n FROM j
), mx AS (
  SELECT x, SUM(nxy) AS nx FROM j GROUP BY x
), my AS (
  SELECT y, SUM(nxy) AS ny FROM j GROUP BY y
), cells AS (
  SELECT j.nxy, mx.nx, my.ny, t.n
  FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
), agg AS (
  SELECT SUM((nxy / n) * ln((nxy * n) / (nx * ny))) AS mi,
         -SUM((nxy / n) * ln(nx / n)) AS hx,
         -SUM((nxy / n) * ln(ny / n)) AS hy
  FROM cells
)
SELECT round(mi, 6) AS mi_nats,
       round(hx, 6) AS h_x,
       round(hy, 6) AS h_y,
       round(CASE WHEN least(hx, hy) > 0 THEN mi / least(hx, hy)
                  ELSE 0.0 END, 6) AS redundancy
FROM agg
"""


def customer_golden_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end (operators/linkage.golden_records):
    union BOTH linkage passes' match pairs (quadratic-in-block + sorted
    neighborhood), fold them into entities by connected components, and
    elect each entity's canonical record (highest balance, id tiebreak).
    The oracle replays even the transitive closure — a recursive CTE
    floods min-reachable-ids to a fixpoint — so the full composition is
    value-hash-checked, not rows-only."""
    from rust_cdc_validator_spark.operators.linkage import (
        blocked_fuzzy_pairs,
        golden_records,
        sorted_neighborhood_pairs,
    )

    cust = _t(spark, sf_dir, "customer").withColumn(
        "name_blk", F.substring("c_name", 1, 15)
    )
    p1 = blocked_fuzzy_pairs(
        cust, ["c_nationkey", "name_blk"], "c_custkey", "c_name", 2
    ).select("id_a", "id_b")
    p2 = sorted_neighborhood_pairs(
        cust, ["c_name"], "c_custkey", "c_name", 2, window=5,
        block_cols=["name_blk"],
    ).select("id_a", "id_b")
    pairs = (
        p1.unionAll(p2)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    g = golden_records(cust, pairs, "c_custkey", [F.desc("c_acctbal")])
    return (
        g.filter((F.col("entity_size") > 1) & F.col("is_canonical"))
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("entity_size").cast("long").alias("entity_size"),
            F.col("c_custkey").alias("canonical_id"),
        )
    )


CUSTOMER_GOLDEN_ENTITIES_SQL = """
WITH RECURSIVE c AS (
  SELECT c_custkey, c_name, c_acctbal, c_nationkey,
         substring(c_name, 1, 15) AS blk
  FROM customer
), p1 AS (
  SELECT a.c_custkey AS x, b.c_custkey AS y
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
), r AS (
  SELECT blk, c_custkey AS id, c_name,
         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY c_name, c_custkey) AS rn
  FROM c
), p2 AS (
  SELECT a.id AS x, b.id AS y
  FROM r a JOIN r b ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 5
  WHERE levenshtein(a.c_name, b.c_name) <= 2
), pairs AS (
  SELECT least(x, y) AS a, greatest(x, y) AS b
  FROM (SELECT x, y FROM p1 UNION SELECT x, y FROM p2)
), und AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM und
), reach(n, m) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT re.n, u.b FROM reach re JOIN und u ON re.m = u.a
), comp AS (
  SELECT n AS node, MIN(m) AS entity FROM reach GROUP BY n
), sized AS (
  SELECT entity, COUNT(*) AS entity_size FROM comp GROUP BY entity
), canon AS (
  SELECT comp.entity, cu.c_custkey,
         ROW_NUMBER() OVER (PARTITION BY comp.entity
                            ORDER BY cu.c_acctbal DESC, cu.c_custkey) AS rn
  FROM comp JOIN customer cu ON comp.node = cu.c_custkey
)
SELECT s.entity AS entity_id,
       CAST(s.entity_size AS BIGINT) AS entity_size,
       cn.c_custkey AS canonical_id
FROM sized s JOIN canon cn ON s.entity = cn.entity AND cn.rn = 1
WHERE s.entity_size > 1
"""


def bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY path (operators/bpe.apply_bpe): train a small merge
    table, tokenize the whole corpus with it (broadcast merges, Arrow
    batches, per-batch word memoization — the Zipf bulk is a dict hit),
    and report each source's real token budget vs the whitespace
    approximation — the fertility check run before committing a tokenizer
    to a training mix. Rows-only (the iterative trainer and the merge
    loop are not SQL-expressible); the apply path is golden-pinned in
    test_bpe.py."""
    from rust_cdc_validator_spark.operators.bpe import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir, num_merges=16)
    counted = bpe_token_count(docs, merges)
    return (
        counted.select(
            "source",
            F.col("bpe_token_count"),
            F.size(F.split(F.col("text"), " ")).alias("_ws"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("bpe_token_count").cast("long").alias("bpe_tokens"),
            F.sum("_ws").cast("long").alias("ws_tokens"),
            F.round(
                F.sum("bpe_token_count") / F.sum("_ws"), 6
            ).alias("fertility_r"),
        )
        .orderBy("source")
    )


def orders_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-time join sizing from persisted sketches
    (operators/sketch.cm_join_size): Count-Min tables over each side's
    join key answer |orders ⋈ lineitem| as the min-over-rows counter dot
    product (Cormode-Muthukrishnan inner-product query) — no raw data
    touched at ask time. Reported against the exact join count; the
    estimate value-hash-replays in SQL like the rest of the sketch
    family."""
    from rust_cdc_validator_spark.operators.sketch import (
        cm_join_size,
        cm_sketch,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_sk = cm_sketch(
        orders.select(F.col("o_orderkey").alias("k")), [], "k"
    ).select(F.col("counters").alias("_ca"))
    l_sk = cm_sketch(
        li.select(F.col("l_orderkey").alias("k")), [], "k"
    ).select(F.col("counters").alias("_cb"))
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("exact_join_rows"))
    )
    return (
        o_sk.crossJoin(F.broadcast(l_sk))
        .crossJoin(F.broadcast(exact))
        .select(
            cm_join_size(F.col("_ca"), F.col("_cb")).alias("est_join_rows"),
            F.col("exact_join_rows"),
            F.round(
                cm_join_size(F.col("_ca"), F.col("_cb"))
                / F.col("exact_join_rows"),
                6,
            ).alias("over_ratio"),
        )
    )


def lineitem_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/sketch.key_bloom /
    bloom_prune): build a 64 Kbit bitmap over high-value order keys
    entirely in-plan (bit_or aggregation — nothing collects), pre-filter
    the lineitem scan against it with broadcast-only joins, and audit the
    trade: definite keeps, false positives, and the fraction of the big
    side that never reaches the shuffle join. Mirrors Spark's runtime
    bloom pushdown as an explicit, engine-replayable operator; the oracle
    rebuilds every bit with the same md5 arithmetic."""
    from rust_cdc_validator_spark.operators.sketch import (
        bloom_flag,
        key_bloom,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    keys = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("kk")
    )
    # the ≤2048-row bitmap feeds k=4 probe joins — materialize once so
    # the build agg doesn't re-run per probe side
    bloom = key_bloom(keys, "kk").localCheckpoint(eager=True)
    probe = li.select(F.col("l_orderkey").alias("k"))
    # ONE pass over lineitem (r11): bloom_flag carries the pass bit, a
    # broadcast left join against the (unique-keyed) filter keys carries
    # the true-match bit, and one aggregate reads all three counts — the
    # previous form scanned the probe THREE times (total, pass, semi).
    # rebalance: this testdata file plans as 3 row-group-bound tasks, so
    # without it the 4 md5 probes serialize onto 3 cores (2.8x measured);
    # at production split counts pass None and keep the big side
    # exchange-free
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    flagged = bloom_flag(probe, "k", bloom, rebalance=nparts).join(
        F.broadcast(keys), F.col("k") == F.col("kk"), "left"
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.sum(F.col("bloom_hit").cast("long")).cast("long").alias(
            "n_pass_bloom"
        ),
        F.sum(F.col("kk").isNotNull().cast("long")).cast("long").alias(
            "n_true_match"
        ),
        (
            F.sum(F.col("bloom_hit").cast("long"))
            - F.sum(F.col("kk").isNotNull().cast("long"))
        ).cast("long").alias("n_false_pos"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("bloom_hit").cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("pruned_fraction"),
    )


def _bloom_prune_oracle_sql(k: int = 4, price_min: int = 400000) -> str:
    """Replays key_bloom + bloom_prune bit for bit: md5 16-bit positions,
    32-bit words via bit_or, k probe bit-tests as generated LEFT JOINs —
    generated like the PageRank/LPA oracles so k lives in one place."""
    joins = []
    hits = []
    for i in range(k):
        pos = (
            f"CAST('0x' || substring(md5('{i}:' || CAST(li.k AS VARCHAR)), 1, 4)"
            f" AS BIGINT)"
        )
        joins.append(
            f"LEFT JOIN bloom b{i} ON b{i}.w = ({pos} >> 5)"
        )
        hits.append(
            f"((COALESCE(b{i}.bits, 0) >> CAST(({pos}) % 32 AS INT)) & 1) = 1"
        )
    return f"""
WITH keys AS (
  SELECT o_orderkey AS kk FROM orders WHERE o_totalprice > {price_min}
), pos AS (
  SELECT CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(kk AS VARCHAR)), 1, 4)
              AS BIGINT) AS p
  FROM keys CROSS JOIN range({k}) t(i)
), bloom AS (
  SELECT p >> 5 AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
), li AS (
  SELECT l_orderkey AS k FROM lineitem
), probe AS (
  SELECT li.k, ({' AND '.join(hits)}) AS hit
  FROM li
  {chr(10).join('  ' + j for j in joins)}
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
         CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom
  FROM probe
), tr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true_match
  FROM li WHERE k IN (SELECT kk FROM keys)
)
SELECT n_lineitems, n_pass_bloom, n_true_match,
       CAST(n_pass_bloom - n_true_match AS BIGINT) AS n_false_pos,
       round(1.0 - CAST(n_pass_bloom AS DOUBLE) / n_lineitems, 6)
         AS pruned_fraction
FROM agg CROSS JOIN tr
"""


LINEITEM_BLOOM_JOIN_PRUNE_SQL = _bloom_prune_oracle_sql()


def orders_heavy_hitters_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy-hitter detection (operators/sketch.cm_sketch /
    cm_estimate): screen every candidate key against the KB-sized
    Count-Min table (never underestimates → zero false NEGATIVES above
    the threshold), then exactly count ONLY the survivors — the
    sketch-screens-exact-confirms pattern that finds hot keys in a
    100 TB stream without a full exact count of every key. Output keeps
    the estimate next to the exact count so the over-approximation is
    auditable. The oracle replays the md5 bucket arithmetic and the
    min-over-rows estimate in SQL."""
    from rust_cdc_validator_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )

    orders = _t(spark, sf_dir, "orders")
    w, d, threshold = 4096, 4, 12
    # the sketch (ONE row) and the survivor set (hot keys) each feed two
    # downstream consumers — materialize both so the 4-pass sketch build
    # and the full-key estimate scan run exactly once, not per consumer
    sk = cm_sketch(
        orders.select(F.col("o_custkey").alias("k")), [], "k", d=d, w=w
    ).localCheckpoint(eager=True)
    keys = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    est = keys.crossJoin(F.broadcast(sk)).select(
        "custkey",
        cm_estimate(F.col("counters"), F.col("custkey"), d=d, w=w).alias(
            "est_orders"
        ),
    )
    survivors = est.filter(F.col("est_orders") >= threshold).localCheckpoint(
        eager=True
    )
    exact = (
        orders.join(
            F.broadcast(survivors.select("custkey")),
            orders["o_custkey"] == F.col("custkey"),
        )
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_orders"))
    )
    return survivors.join(exact, "custkey").select(
        "custkey",
        "est_orders",
        "exact_orders",
        F.round(
            F.col("est_orders") / F.col("exact_orders"), 6
        ).alias("over_ratio"),
    )


ORDERS_HEAVY_HITTERS_CM_SQL = """
WITH f AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1
), r AS (
  SELECT i,
         CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)
              AS BIGINT) % 4096 AS b,
         CAST(SUM(c) AS BIGINT) AS cnt
  FROM f CROSS JOIN range(4) t(i) GROUP BY i, b
), est AS (
  SELECT f.k, MIN(r.cnt) AS est_orders
  FROM f JOIN r
    ON r.b = CAST('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || CAST(f.k AS VARCHAR)), 1, 4)
                  AS BIGINT) % 4096
  GROUP BY f.k
)
SELECT f.k AS custkey, est.est_orders, f.c AS exact_orders,
       round(CAST(est.est_orders AS DOUBLE) / f.c, 6) AS over_ratio
FROM est JOIN f ON est.k = f.k
WHERE est.est_orders >= 12
"""


ORDERS_JOIN_SIZE_SKETCH_SQL = """
WITH ka AS (
  SELECT o_orderkey AS k, COUNT(*) AS f FROM orders GROUP BY o_orderkey
), kb AS (
  SELECT l_orderkey AS k, COUNT(*) AS f FROM lineitem GROUP BY l_orderkey
), ra AS (
  SELECT i,
         CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)
              AS BIGINT) % 256 AS b,
         CAST(SUM(f) AS BIGINT) AS c
  FROM ka CROSS JOIN range(4) t(i) GROUP BY i, b
), rb AS (
  SELECT i,
         CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)
              AS BIGINT) % 256 AS b,
         CAST(SUM(f) AS BIGINT) AS c
  FROM kb CROSS JOIN range(4) t(i) GROUP BY i, b
), dots AS (
  SELECT ra.i, CAST(SUM(ra.c * rb.c) AS BIGINT) AS dot
  FROM ra JOIN rb ON ra.i = rb.i AND ra.b = rb.b
  GROUP BY ra.i
), est AS (
  SELECT MIN(dot) AS est_join_rows FROM dots
), ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT est.est_join_rows, ex.exact_join_rows,
       round(CAST(est.est_join_rows AS DOUBLE) / ex.exact_join_rows, 6)
         AS over_ratio
FROM est CROSS JOIN ex
"""


def _cooccur_edge_state_for(
    spark: SparkSession, sf_dir: str, item_col: str
) -> str:
    """Build (once per (sf_dir, item) per process) the persisted 1995
    co-order edge state for an item column — the co-trade sibling of
    _trade_edge_state_for: the quadratic within-order self-join runs
    ONCE; triangles and assortativity read algorithm-ready pairs +
    degrees (graphstate._state_und_deg) forever after."""
    key = f"{sf_dir}:{item_col}"
    path = _EDGE_STATE_CACHE.get(key)
    if path is None:
        import tempfile

        from rust_cdc_validator_spark.operators.graphstate import (
            build_edge_state,
        )

        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders")
        op = (
            li.join(
                o.filter(F.year("o_orderdate") == 1995).select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
            )
            .select("l_orderkey", item_col)
            .distinct()
        )
        x, y = op.alias("x"), op.alias("y")
        edges = x.join(y, "l_orderkey").filter(
            F.col(f"x.{item_col}") < F.col(f"y.{item_col}")
        ).select(
            F.col(f"x.{item_col}").alias("src"),
            F.col(f"y.{item_col}").alias("dst"),
        )
        path = tempfile.mkdtemp(prefix=f"cooccur_{item_col}_")
        build_edge_state(edges, path, directed=False)
        _EDGE_STATE_CACHE[key] = path
    return path


def parts_cotrade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts (operators/graph.triangle_count) of the
    1995 co-order graph — parts are adjacent when some order bought both.
    Triangles measure basket cohesion (cliques of parts that sell
    together), the graph signal PageRank's importance score can't see;
    degree orientation makes each triangle count exactly once and bounds
    the wedge fan-out by O(sqrt(E)) even at 100-TB basket graphs. The
    oracle replays orientation, wedges, and closures in pure SQL.
    r11: reads the persisted co-order edge state (pairs + degrees) —
    the quadratic within-order self-join runs once per process, not per
    query."""
    from rust_cdc_validator_spark.operators.graphstate import (
        triangle_count_from_state,
    )

    return triangle_count_from_state(
        spark, _cooccur_edge_state_for(spark, sf_dir, "l_partkey")
    ).select(F.col("node").alias("partkey"), "triangles")


PARTS_COTRADE_TRIANGLES_SQL = """
WITH op AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l JOIN orders od ON l.l_orderkey = od.o_orderkey
  WHERE EXTRACT(year FROM od.o_orderdate) = 1995
), und AS (
  SELECT DISTINCT x.p AS a, y.p AS b
  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
), orient AS (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS s,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS t,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS td
  FROM und u
  JOIN deg da ON u.a = da.node
  JOIN deg db ON u.b = db.node
), tri AS (
  SELECT o1.s AS u, o1.t AS x, o2.t AS y
  FROM orient o1
  JOIN orient o2 ON o1.s = o2.s
  JOIN orient e ON e.s = o1.t AND e.t = o2.t
  WHERE (o1.td, o1.t) < (o2.td, o2.t)
)
SELECT node AS partkey, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
  SELECT u AS node FROM tri
  UNION ALL SELECT x AS node FROM tri
  UNION ALL SELECT y AS node FROM tri
) GROUP BY node
"""


def docs_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/url.canonicalize_url) as the dedup
    key of a web corpus: four deterministic messy spellings of the same
    logical URLs (case, default port, www, tracking params, param order,
    fragments, trailing slashes) are synthesized per doc — the testdata
    has no URL column — then canonicalized and grouped, counting docs and
    surviving raw forms per canonical URL. Pure map-side string rewrites
    + one hash agg; the DuckDB oracle replays every RE2-safe regex."""
    from rust_cdc_validator_spark.functions.url import canonicalize_url

    docs = _t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    raw = docs.select(
        "doc_id",
        F.when(
            v == 0,
            F.concat(F.lit("http://www.example.com/p/"), pid, F.lit("/?utm_source=x&a=1")),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTP://Example.COM:80/p/"), pid, F.lit("?a=1")),
        )
        .when(
            v == 2,
            F.concat(F.lit("http://example.com/p/"), pid, F.lit("?a=1&utm_campaign=z#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://EXAMPLE.com/p/"), pid, F.lit("/?b=2&a=1"))
        )
        .alias("url"),
    )
    return (
        raw.select("url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_forms"),
        )
    )


DOCS_URL_CANONICAL_SQL = r"""
WITH raw AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'http://www.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=x&a=1'
      WHEN 1 THEN 'HTTP://Example.COM:80/p/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1'
      WHEN 2 THEN 'http://example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&utm_campaign=z#frag'
      ELSE 'http://EXAMPLE.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '/?b=2&a=1'
    END AS url
  FROM documents
), s1 AS (
  SELECT url, regexp_replace(url, '#.*$', '') AS u FROM raw
), s2 AS (
  SELECT url,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
           || substring(u, length(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) + 1)
           AS u
  FROM s1
), s3 AS (
  SELECT url,
         regexp_replace(
           regexp_replace(u, '^(http://[^/:?]+):80([/?].*)?$', '\1\2'),
           '^(https://[^/:?]+):443([/?].*)?$', '\1\2') AS u
  FROM s2
), s4 AS (
  SELECT url, regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM s3
), s5 AS (
  SELECT url,
         regexp_replace(u, '\?.*$', '') AS base,
         list_sort(list_filter(
           string_split(regexp_extract(u, '\?(.*)$', 1), '&'),
           p -> p <> '' AND NOT regexp_matches(
             regexp_extract(p, '^([^=]*)', 1),
             '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)$')
         )) AS kept
  FROM s4
), s6 AS (
  SELECT url,
         CASE WHEN len(kept) > 0
              THEN base || '?' || array_to_string(kept, '&')
              ELSE base END AS u
  FROM s5
), s7 AS (
  SELECT url,
         regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?]+/.+?)/+(\?|$)', '\1\2')
           AS canonical_url
  FROM s6
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms
FROM s7 GROUP BY canonical_url
"""


def docs_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-balance stratified 5-fold assignment
    (operators/corpus.stratified_kfold) over documents stratified by
    language — the cross-validation splitter whose per-stratum fold sizes
    differ by at most 1 (hash splits only balance in expectation).
    Returns per-(lang, fold) counts; the oracle replays the seeded md5
    round-robin deal row for row."""
    from rust_cdc_validator_spark.operators.corpus import stratified_kfold

    docs = _t(spark, sf_dir, "documents")
    folded = stratified_kfold(docs, k=5, id_col="doc_id", strata_cols=["lang"])
    return folded.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


DOCS_KFOLD_ASSIGNMENT_SQL = """
WITH ranked AS (
  SELECT lang, doc_id,
         CAST((ROW_NUMBER() OVER (
            PARTITION BY lang
            ORDER BY md5('fold:0:' || CAST(doc_id AS VARCHAR)), doc_id
         ) - 1) % 5 AS INT) AS fold
  FROM documents
)
SELECT lang, fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id
FROM ranked GROUP BY lang, fold
"""


def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-entropy profile
    (operators/corpus.char_entropy): the low-entropy / high-entropy
    corpus filter signal (keyboard mash vs base64 blobs), aggregated per
    language. Per-doc entropies are rounded then summed as DECIMAL so the
    cross-row aggregation is order-independent and the oracle replays it
    bit-exactly."""
    from rust_cdc_validator_spark.operators.corpus import char_entropy

    docs = _t(spark, sf_dir, "documents")
    ent = char_entropy(docs).join(docs.select("doc_id", "lang"), "doc_id")
    h6 = F.round("entropy_bits", 6).cast("decimal(18,6)")
    return ent.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round((F.sum(h6).cast("double") / F.count(F.lit(1))), 6).alias(
            "avg_entropy"
        ),
        F.min(F.round("entropy_bits", 6)).alias("min_entropy"),
        F.max(F.round("entropy_bits", 6)).alias("max_entropy"),
    )


DOCS_CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), counts AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
), per_doc AS (
  SELECT doc_id,
         log2(SUM(c)) - SUM(c * log2(c)) / SUM(c) AS h
  FROM counts GROUP BY doc_id
), restored AS (
  SELECT d.lang, COALESCE(p.h, 0.0) AS h
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(round(h, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_entropy,
       MIN(round(h, 6)) AS min_entropy,
       MAX(round(h, 6)) AS max_entropy
FROM restored GROUP BY lang
"""


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency curve: OLS slope of
    ln(freq) on ln(rank) for the top 200 tokens (natural text sits near
    slope −1; a corpus drifting toward boilerplate or dedup failure
    flattens or steepens it — a one-row drift monitor on tokenizer-visible
    structure). slope = covar_pop/var_pop, intercept and r² from the same
    single aggregation; everything replayed by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # top-k via TakeOrdered (per-partition heaps, no global sort shuffle);
    # the rank window then runs over 200 rows only
    top200 = freq.orderBy(F.desc("freq"), "token").limit(200)
    w = Window.orderBy(F.desc("freq"), F.col("token"))
    top = top200.withColumn("rnk", F.row_number().over(w))
    xy = top.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count(F.lit(1)).alias("n_tokens_fit"),
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6).alias("zipf_slope"),
        F.round(
            F.avg("y") - (F.covar_pop("x", "y") / F.var_pop("x")) * F.avg("x"), 6
        ).alias("intercept"),
        F.round(F.pow(F.corr("x", "y"), 2), 6).alias("r2"),
    )


TOKEN_ZIPF_FIT_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> '' GROUP BY token
), top AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
  FROM freq QUALIFY rnk <= 200
), xy AS (
  SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_fit,
       round(covar_pop(x, y) / var_pop(x), 6) AS zipf_slope,
       round(avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x), 6) AS intercept,
       round(corr(x, y) ^ 2, 6) AS r2
FROM xy
"""


def docs_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota rebalancing (operators/corpus.domain_quota_cap):
    cap every source at 15 docs via the deterministic md5 deal, then
    fingerprint the kept set per source (count / min / max / id-sum) so
    the oracle value-checks WHICH docs survived, not just how many.
    Under-quota sources pass through without entering the window."""
    from rust_cdc_validator_spark.operators.corpus import domain_quota_cap

    docs = _t(spark, sf_dir, "documents")
    kept = domain_quota_cap(docs, "source", cap=15)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("id_sum"),
    )


DOCS_SOURCE_QUOTA_SQL = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('quota:0:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
), kept AS (
  SELECT source, doc_id FROM ranked WHERE rn <= 15
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY source
"""


def suppliers_comention_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity (operators/graph.degree_assortativity) of the
    1995 supplier co-order graph — do high-degree suppliers co-occur with
    each other (assortative) or with the long tail (hub-and-spoke)? The
    mixing diagnostic that complements pagerank (importance) and
    triangles (cohesion) on the same trade network; one-row output, all
    replayed by the oracle. r11: reads the persisted co-order edge state
    (pairs + degrees read, not rebuilt)."""
    from rust_cdc_validator_spark.operators.graphstate import (
        degree_assortativity_from_state,
    )

    return degree_assortativity_from_state(
        spark, _cooccur_edge_state_for(spark, sf_dir, "l_suppkey")
    )


SUPPLIERS_COMENTION_MIXING_SQL = """
WITH op AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_suppkey AS s
  FROM lineitem l JOIN orders od ON l.l_orderkey = od.o_orderkey
  WHERE EXTRACT(year FROM od.o_orderdate) = 1995
), und AS (
  SELECT DISTINCT x.s AS a, y.s AS b
  FROM op x JOIN op y ON x.o = y.o AND x.s < y.s
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
), keyed AS (
  SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node
), both_dir AS (
  SELECT x, y FROM keyed UNION ALL SELECT y AS x, x AS y FROM keyed
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d) AS DOUBLE) AS sd
  FROM deg
)
SELECT nn.n_nodes,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
       round(nn.sd / nn.n_nodes, 6) AS avg_degree,
       round(covar_pop(x, y) / (stddev_pop(x) * stddev_pop(y)), 6)
         AS assortativity_r
FROM both_dir CROSS JOIN nn
GROUP BY nn.n_nodes, nn.sd
"""


def orders_custkey_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/skew.key_skew_report) on the
    orders→customer join key: max-share, normalized entropy, and Gini of
    the o_custkey distribution — the one-row report that decides whether
    a join needs `salted_join` or AQE's skew split can cope. All formulas
    (entropy via log2 N − Σ c·log2 c / N, Gini via the rank identity)
    replay in the oracle."""
    from rust_cdc_validator_spark.operators.skew import key_skew_report

    orders = _t(spark, sf_dir, "orders")
    return key_skew_report(orders, ["o_custkey"])


ORDERS_CUSTKEY_SKEW_SQL = """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, o_custkey) AS i FROM counts
)
SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_count,
       round(MAX(c) / SUM(c), 6) AS max_share,
       CASE WHEN COUNT(*) > 1 THEN
         round((log2(SUM(c)) - SUM(c * log2(c)) / SUM(c)) / log2(COUNT(*)), 6)
       ELSE 0.0 END AS entropy_norm,
       round((2 * SUM(i * c)) / (COUNT(*) * SUM(c))
             - (COUNT(*) + 1) / COUNT(*), 6) AS gini
FROM ranked
"""


def events_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift localization (operators/timeseries.changepoint_amoc)
    over each event type's DAILY mean value: the monitoring query that
    answers WHEN a feed's level moved, one step past the drift monitors'
    "did it move". Events pre-aggregate to day ticks first so the series
    length is days, not rows; the AMOC statistic then replays in the
    oracle with plain SQL windows."""
    from rust_cdc_validator_spark.operators.timeseries import changepoint_amoc

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.avg("value"), 9).alias("v"))
    return changepoint_amoc(daily, ["event_type"], "day", "v")


EVENTS_VALUE_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(AVG(value), 9) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), cum AS (
  SELECT event_type, day, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS ps,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(v) OVER (PARTITION BY event_type) AS total
  FROM daily
), scored AS (
  SELECT event_type, day, t, n,
         ps / t AS mb,
         (total - ps) / (n - t) AS ma,
         abs(ps / t - (total - ps) / (n - t))
           * sqrt(CAST(t AS DOUBLE) * (n - t) / n) AS d
  FROM cum WHERE t < n
), pick AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY d DESC, day
  ) AS rk FROM scored
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       day AS cut_point,
       CAST(t AS BIGINT) AS cut_index,
       round(d, 6) AS shift_stat,
       round(mb, 6) AS mean_before,
       round(ma, 6) AS mean_after
FROM pick WHERE rk = 1
"""


def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch Reading Ease profile
    (functions/text.flesch_reading_ease): the readability quality-filter
    signal, map-side regexp counts only. Per-doc scores round then sum as
    DECIMAL so the per-language averages are order-independent for the
    oracle."""
    from rust_cdc_validator_spark.functions.text import flesch_reading_ease

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", flesch_reading_ease(F.col("text")).alias("fre")
    ).filter(F.col("fre").isNotNull())
    f6 = F.round("fre", 6).cast("decimal(24,6)")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum(f6).cast("double") / F.count(F.lit(1)), 6).alias("avg_fre"),
        F.min(F.round("fre", 6)).alias("min_fre"),
        F.max(F.round("fre", 6)).alias("max_fre"),
    )


DOCS_READABILITY_SQL = r"""
WITH scored AS (
  SELECT lang,
         len(regexp_extract_all(text, '\S+')) AS w,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS y
  FROM documents
  WHERE len(trim(text)) > 0
), fre AS (
  SELECT lang,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(y AS DOUBLE) / w) AS fre
  FROM scored WHERE w > 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(round(fre, 6) AS DECIMAL(24,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_fre,
       MIN(round(fre, 6)) AS min_fre,
       MAX(round(fre, 6)) AS max_fre
FROM fre GROUP BY lang
"""


def docs_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-governance PII pass (functions/text.pii_counts/redact_pii):
    deterministic email/phone/IPv4 markers are planted on a doc_id grid —
    the corpus has no real PII — then detected and redacted, reporting
    per-source doc coverage, match totals, and the redaction size delta.
    Everything is map-side regexp work + one aggregation; the oracle
    replays the same RE2 patterns with DuckDB's 'g' flag."""
    from rust_cdc_validator_spark.functions.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call +1 555-01"),
                    F.lpad((did % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    sig = aug.select(
        "source",
        pii_counts(F.col("t")).alias("p"),
        (F.length(redact_pii(F.col("t"))) - F.length("t")).alias("_delta"),
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("p.email") > 0, 1).otherwise(0)).alias("docs_email"),
        F.sum(F.when(F.col("p.phone") > 0, 1).otherwise(0)).alias("docs_phone"),
        F.sum(F.when(F.col("p.ipv4") > 0, 1).otherwise(0)).alias("docs_ipv4"),
        F.sum("p.email").cast("long").alias("n_email"),
        F.sum("p.phone").cast("long").alias("n_phone"),
        F.sum("p.ipv4").cast("long").alias("n_ipv4"),
        F.sum("_delta").cast("long").alias("redact_delta_chars"),
    )


DOCS_PII_REPORT_SQL = r"""
WITH aug AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
              ELSE '' END AS t
  FROM documents
), sig AS (
  SELECT source,
    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
    len(regexp_extract_all(t, '\+?[0-9][0-9()\-. ]{6,16}[0-9]')) AS ph,
    len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS ip,
    length(
      regexp_replace(
        regexp_replace(
          regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IPV4>', 'g'),
        '\+?[0-9][0-9()\-. ]{6,16}[0-9]', '<PHONE>', 'g')
    ) - length(t) AS delta
  FROM aug
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
       CAST(SUM(CASE WHEN ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
       CAST(SUM(CASE WHEN ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ipv4,
       CAST(SUM(e) AS BIGINT) AS n_email,
       CAST(SUM(ph) AS BIGINT) AS n_phone,
       CAST(SUM(ip) AS BIGINT) AS n_ipv4,
       CAST(SUM(delta) AS BIGINT) AS redact_delta_chars
FROM sig GROUP BY source
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape ("suppliers who kept orders waiting"), adapted to
    this corpus: lineitem has no l_receiptdate/l_commitdate, so "late"
    := shipped more than 90 days after the order date, and Q21's single
    nation widens to one region (~20 of the 100 suppliers). For finished
    orders (o_orderstatus = 'F'), count per supplier the late lines on
    MULTI-supplier orders where that supplier was the ONLY late one —
    the double-correlated EXISTS / NOT EXISTS self-join on one table
    that no other catalog query exercises.

    Spark shape: one orderkey equi-join of lineitem×orders attaches the
    lateness cutoff; EXISTS becomes a LEFT SEMI join (same orderkey,
    different suppkey) and NOT EXISTS a LEFT ANTI join whose residual
    predicate references the probe row's own o_orderdate (same order ⇒
    same date), so the anti side is the RAW lineitem relation — no
    second orders join, no cartesian. supplier (100 rows) and nation
    (25) broadcast. Top-100 by (numwait DESC, s_name) is a total order
    (s_name unique), so the oracle replays the LIMIT deterministically.

    Scale shape: all three lineitem-sized relations shuffle on
    l_orderkey — the semi and anti joins co-partition with the orders
    join and AQE reuses the exchange; the residual suppkey/date
    predicates ride the join, adding no extra pass. Reference parity:
    the classic Q21 plan family (semi+anti over one fact table),
    SURVEY.md §2 joins row.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)

    late1 = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    waiting = late1.join(
        l2,
        (late1["l_orderkey"] == l2["_ok2"])
        & (late1["l_suppkey"] != l2["_sk2"]),
        "left_semi",
    )
    l3 = li.select(
        F.col("l_orderkey").alias("_ok3"),
        F.col("l_suppkey").alias("_sk3"),
        F.col("l_shipdate").alias("_sd3"),
    )
    waiting = waiting.join(
        l3,
        (waiting["l_orderkey"] == l3["_ok3"])
        & (waiting["l_suppkey"] != l3["_sk3"])
        & (
            l3["_sd3"]
            > waiting["o_orderdate"] + F.expr("INTERVAL 90 DAYS")
        ),
        "left_anti",
    )
    return (
        waiting.join(F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_WAITING_SUPPLIERS_SQL = """
WITH latelines AS (
  SELECT l.l_orderkey, l.l_suppkey, o.o_orderdate
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM latelines l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 0
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def supplier_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core screening (operators/graph.k_core, Seidman 1983) over the
    bipartite trade graph, read from the SAME persisted edge state as
    the pagerank/LPA/BFS trio: peel nodes with fewer than 8 distinct
    trade partners until a fixed point, return surviving suppliers with
    their in-core degree — the dense-subgraph quality screen (peripheral
    / spam-like structure falls out; the core is the load-bearing
    market). Fixed 4-round cap: the peel converges in 2 on this graph,
    and the oracle unrolls the same 4 synchronous rounds in generated
    SQL (identical after convergence since a converged peel is a no-op),
    so the iterative path value-hashes like PageRank's."""
    from rust_cdc_validator_spark.operators.graphstate import (
        k_core_from_state,
    )

    core = k_core_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), k=8, rounds=4
    )
    return core.filter(F.col("node").startswith("s")).select(
        F.col("node").substr(F.lit(2), F.lit(30)).cast("long").alias("suppkey"),
        F.col("core_deg"),
    )


def _kcore_oracle_sql(k: int = 8, rounds: int = 4) -> str:
    """Unrolled k-core peel mirroring graph._kcore_loop round for round
    (degree over survivor-restricted adjacency, >= k filter) — generated
    like the PageRank/LPA oracles so k and the round count live in one
    place. Extra rounds past convergence are no-ops, so a fixed unroll
    equals the operator's early-stopped result."""
    ctes = [
        """pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        "e AS (SELECT a AS s, b AS d FROM pair UNION ALL SELECT b, a FROM pair)",
        """d0 AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM e GROUP BY s
)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"a{r} AS (SELECT node FROM d{r - 1} WHERE core_deg >= {k})"
        )
        ctes.append(
            f"""d{r} AS (
  SELECT e.s AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
  FROM e JOIN a{r} x ON e.s = x.node JOIN a{r} y ON e.d = y.node
  GROUP BY e.s
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey, core_deg
FROM d{rounds} WHERE node LIKE 's%'"""
    )


SUPPLIER_TRADE_KCORE_SQL = _kcore_oracle_sql()


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit, adapted: the testdata has no
    partsupp, so unit cost is proxied as 10% of p_retailprice — the JOIN
    SHAPE is the point): profit per supplier nation per order year over
    parts whose name contains a color token. Five-table star join with a
    substring part filter, a date-part extraction, and a two-key rollup —
    the classic "filter one dimension hard, join the fact once, group by
    two other dimensions" plan.

    Spark shape: the part filter prunes BEFORE the fact join and the
    small dimension side broadcasts (parts ~20% selectivity of a
    dimension table; supplier/nation broadcast unconditionally), so the
    lineitem fact is scanned once and exchanges only for the final
    (nation, year) aggregate — map-side combined, |nations × years|
    result rows. At 100 TB the fact never shuffles on a join key."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


Q9_PRODUCT_TYPE_PROFIT_SQL = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       round(SUM(l.l_extendedprice * (1.0 - l.l_discount)
                 - 0.1 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): top orders whose total
    line quantity exceeds a threshold, with their customer. The
    aggregate-HAVING-then-semi-join shape: the qualifying order set is
    found by one fact aggregation, and only THOSE orders join back to
    the dimensions.

    Spark shape: the HAVING aggregate is the only fact exchange
    (map-side combined on orderkey); the qualifying set (~0.5% of
    orders here) broadcasts into the orders join, customer joins the
    survivor relation, and the top-100 is a TakeOrdered — no global
    sort. Whole-number quantities sum exactly, so the threshold is
    engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180.0)
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("o_total_r"),
            F.col("total_qty"),
        )
        .orderBy(
            F.col("o_total_r").desc(), F.col("o_date"), F.col("o_orderkey")
        )
        .limit(100)
    )


Q18_LARGE_VOLUME_CUSTOMERS_SQL = """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 180.0
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
       round(o.o_totalprice, 2) AS o_total_r,
       b.total_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o_total_r DESC, o_date, o.o_orderkey
LIMIT 100
"""


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval counting: treating each event as a 5-minute
    open interval [ts, ts+300s), the PEAK number of simultaneously-open
    intervals per event type and the first instant it is reached — the
    classic +1/−1 boundary-scan shape (concurrent sessions, connection
    counts, room occupancy) absent from the catalog's window family.

    Delegates to operators/sweepline.peak_concurrency — one boundary
    collapse + ONE generalized two-phase prefix scan (no per-type
    single-partition window; see the operator docstring for the
    zero-sum group-reset argument) + a |types| struct-max agg.
    """
    from rust_cdc_validator_spark.operators.sweepline import peak_concurrency

    ev = _events(spark, sf_dir)
    return (
        peak_concurrency(
            ev.select(
                "event_type",
                F.col("ts_ns").alias("_start"),
                (F.col("ts_ns") + F.lit(300_000_000_000)).alias("_end"),
            ),
            ["event_type"],
            "_start",
            "_end",
        )
        .withColumnRenamed("first_peak", "first_peak_ns")
        .orderBy("event_type")
    )


EVENTS_PEAK_CONCURRENCY_SQL = """
WITH pts AS (
  SELECT event_type, epoch_ns(ts) AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, epoch_ns(ts) + 300000000000 AS t, -1 AS delta FROM events
), cells AS (
  SELECT event_type, t, delta, CAST(SUM(delta) AS BIGINT) AS d
  FROM pts GROUP BY event_type, t, delta
), cum AS (
  SELECT event_type, t,
         CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY t, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run
  FROM cells
), ranked AS (
  SELECT event_type, t, run,
         MAX(run) OVER (PARTITION BY event_type) AS mx
  FROM cum
)
SELECT event_type,
       CAST(mx AS BIGINT) AS peak_concurrency,
       CAST(MIN(t) FILTER (WHERE run = mx) AS BIGINT) AS first_peak_ns
FROM ranked
GROUP BY event_type, mx
ORDER BY event_type
"""


def web_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-corpus preparation — the composition this round's
    operators exist for, value-checked as ONE plan: synthesize messy URLs
    (the corpus has none) → canonicalize (functions/url) → URL-dedup
    keeping each canonical's min doc id → prose quality gate (≥20 tokens)
    → PII redaction with planted markers (functions/text) → per-source
    quota (corpus.domain_quota_cap, cap 12) → stratified 3-fold deal
    (corpus.stratified_kfold) → per-(lang, fold) counts, id-sum
    fingerprint, and redaction delta. Map-side stages add ZERO exchanges
    (plan-budget test); the oracle replays the full chain in one CTE
    pipeline."""
    from rust_cdc_validator_spark.functions.text import (
        redact_pii,
        token_count,
    )
    from rust_cdc_validator_spark.functions.url import canonicalize_url
    from rust_cdc_validator_spark.operators.corpus import (
        domain_quota_cap,
        stratified_kfold,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pid = (did % 50).cast("string")
    v = did % 4
    url = (
        F.when(v == 0, F.concat(F.lit("http://www.example.com/p/"), pid, F.lit("/?utm_source=x&a=1")))
        .when(v == 1, F.concat(F.lit("HTTP://Example.COM:80/p/"), pid, F.lit("?a=1")))
        .when(v == 2, F.concat(F.lit("http://example.com/p/"), pid, F.lit("?a=1&utm_campaign=z#frag")))
        .otherwise(F.concat(F.lit("http://EXAMPLE.com/p/"), pid, F.lit("/?b=2&a=1")))
    )
    pii_text = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
    )
    staged = docs.select(
        "doc_id",
        "lang",
        "source",
        canonicalize_url(url).alias("canonical_url"),
        pii_text.alias("t"),
    ).filter(token_count(F.col("t")) >= 20)
    # URL dedup: canonical's earliest doc survives (same rule as exact
    # dedup's min-id representative)
    wdup = Window.partitionBy("canonical_url").orderBy("doc_id")
    deduped = (
        staged.withColumn("_r", F.row_number().over(wdup))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    redacted = deduped.select(
        "doc_id",
        "lang",
        "source",
        (F.length(redact_pii(F.col("t"))) - F.length("t")).alias("_delta"),
    ).localCheckpoint(eager=True)
    # ^ materialize ONCE: domain_quota_cap's two-regime split consumes its
    # input three times (count agg + both branches); without this cut the
    # whole canonicalize→dedup→redact chain re-executes per consumer —
    # at 100 TB that is three full corpus scans instead of one.
    capped = domain_quota_cap(redacted, "source", cap=12)
    folded = stratified_kfold(capped, k=3, id_col="doc_id", strata_cols=["lang"])
    return folded.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("_delta").cast("long").alias("redact_delta_chars"),
    )


WEB_CORPUS_PREP_SQL = r"""
WITH staged AS (
  SELECT doc_id, lang, source,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'http://www.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=x&a=1'
      WHEN 1 THEN 'HTTP://Example.COM:80/p/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1'
      WHEN 2 THEN 'http://example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&utm_campaign=z#frag'
      ELSE 'http://EXAMPLE.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '/?b=2&a=1'
    END AS url,
    text || CASE WHEN doc_id % 7 = 0
      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      ELSE '' END AS t
  FROM documents
  WHERE len(regexp_extract_all(
          text || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END, '\S+')) >= 20
), s1 AS (
  SELECT doc_id, lang, source, t, regexp_replace(url, '#.*$', '') AS u FROM staged
), s2 AS (
  SELECT doc_id, lang, source, t,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
           || substring(u, length(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) + 1)
           AS u
  FROM s1
), s3 AS (
  SELECT doc_id, lang, source, t,
         regexp_replace(
           regexp_replace(u, '^(http://[^/:?]+):80([/?].*)?$', '\1\2'),
           '^(https://[^/:?]+):443([/?].*)?$', '\1\2') AS u
  FROM s2
), s4 AS (
  SELECT doc_id, lang, source, t,
         regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM s3
), s5 AS (
  SELECT doc_id, lang, source, t,
         regexp_replace(u, '\?.*$', '') AS base,
         list_sort(list_filter(
           string_split(regexp_extract(u, '\?(.*)$', 1), '&'),
           p -> p <> '' AND NOT regexp_matches(
             regexp_extract(p, '^([^=]*)', 1),
             '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)$')
         )) AS kept
  FROM s4
), s6 AS (
  SELECT doc_id, lang, source, t,
         CASE WHEN len(kept) > 0
              THEN base || '?' || array_to_string(kept, '&')
              ELSE base END AS u
  FROM s5
), canon AS (
  SELECT doc_id, lang, source, t,
         regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?]+/.+?)/+(\?|$)', '\1\2')
           AS canonical_url
  FROM s6
), deduped AS (
  SELECT doc_id, lang, source, t FROM (
    SELECT *, row_number() OVER (
      PARTITION BY canonical_url ORDER BY doc_id) AS r
    FROM canon
  ) WHERE r = 1
), redacted AS (
  SELECT doc_id, lang, source,
    length(
      regexp_replace(
        regexp_replace(
          regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IPV4>', 'g'),
        '\+?[0-9][0-9()\-. ]{6,16}[0-9]', '<PHONE>', 'g')
    ) - length(t) AS delta
  FROM deduped
), capped AS (
  SELECT doc_id, lang, source, delta FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY md5('quota:0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM redacted
  ) WHERE rn <= 12
), folded AS (
  SELECT lang, delta, doc_id,
         CAST((row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('fold:0:' || CAST(doc_id AS VARCHAR)), doc_id
         ) - 1) % 3 AS INT) AS fold
  FROM capped
)
SELECT lang, fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(delta) AS BIGINT) AS redact_delta_chars
FROM folded GROUP BY lang, fold
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape ("order priority checking"), adapted: lineitem has
    no l_commitdate/l_receiptdate, so a "late" line := shipped more than
    75 days after the order date. For one order-year, count orders per
    priority that have AT LEAST ONE late line — the correlated EXISTS
    whose subquery predicate references the OUTER row's o_orderdate.

    Spark shape: the EXISTS decorrelates to ONE LEFT SEMI join on
    l_orderkey with the date comparison riding as a residual condition
    (both sides of the `>` come from different relations, so it cannot
    be pushed below the join — exactly the Q4 pattern). No count-
    distinct, no second pass: semi-join output IS the order set.

    Scale shape: both relations shuffle once on the order key; the date
    filter on orders prunes before the exchange. Reference parity:
    op-code/predicate dispatch family, SURVEY.md §2 joins row.
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 75 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q12_ship_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape ("shipping modes and order priority"), adapted:
    lineitem has no l_shipmode / l_commitdate / l_receiptdate, so the
    mode dimension derives from the ship delay (days from order date to
    ship date): 'FAST' (1-90 days) vs 'SLOW' (longer) — and Q12's
    two-mode IN restriction keeps exactly those classes (this corpus's
    backdated lines, delay <= 0, play the excluded modes). One
    ship-year window; per mode, the conditional-aggregation pair
    counting lines belonging to high-priority (1-URGENT / 2-HIGH) vs
    low-priority orders — the sum(CASE ...) pivot that folds both
    counts into ONE aggregate pass, Q12's defining pattern.

    Spark shape: one lineitem⋈orders shuffle on the order key; orders
    carries only (o_orderkey, o_orderdate, o_orderpriority) through the
    exchange and the ship-year filter prunes lineitem at the scan
    (PushedFilters on l_shipdate). The mode CASE and both priority
    CASEs are pure codegen expressions — no UDF, no second scan.

    Scale shape: fact-fact shuffle on the join key with map-side
    partial aggregation collapsing each task's output to <=2 rows; the
    two-group result can never skew the exchange because the shuffle is
    keyed on l_orderkey, not the mode. Reference parity: predicate
    dispatch + conditional-count family (SURVEY.md §2 A2/P3).
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .withColumn(
            "ship_mode",
            F.when(delay.between(1, 90), F.lit("FAST")).when(
                delay > 90, F.lit("SLOW")
            ),
        )
        .filter(F.col("ship_mode").isNotNull())
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


Q12_SHIP_MODE_PRIORITY_SQL = """
SELECT ship_mode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) BETWEEN 1 AND 90
              THEN 'FAST'
              WHEN datediff('day', o_orderdate, l_shipdate) > 90
              THEN 'SLOW' END AS ship_mode,
         o_orderpriority
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
WHERE ship_mode IS NOT NULL
GROUP BY ship_mode
ORDER BY ship_mode
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape ("important stock identification"), adapted to
    the lineitem supply relation (this corpus has no partsupp): per
    part, total traded value; keep parts whose value exceeds 1.5× the
    MEAN part value — the group-HAVING-against-a-scalar-subquery
    pattern. (TPC-H scales its Q11 fraction by 1/SF because the group
    count grows with data size; a mean-relative threshold is the same
    idea expressed scale-invariantly, so the query stays non-degenerate
    at every test SF.)

    Spark shape: one groupBy builds the per-part values, materialized
    ONCE (localCheckpoint — parts-sized, the basket-relation
    discipline) because BOTH the output and the global-total scalar
    read it: without the cut the 1-row aggregate re-runs the whole
    fact scan — the exact correlated re-scan this decorrelation exists
    to avoid (AQE's ReusedExchange is not guaranteed across the
    broadcast boundary; plan-pinned in test_plans). The total AND part
    count then re-aggregate from it into a 1-row broadcast crossJoin.
    The threshold compares in EXACT decimal (value·n_parts·2 >
    total·3 — integer-exact in both engines) so no double-epsilon row
    flips the filter.

    Scale shape: one fact shuffle on l_partkey; the rollup and the
    filter run over the parts-sized materialized aggregate.
    """
    li = _t(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(val.cast("decimal(24,8)")).alias("_val")
    ).localCheckpoint(eager=True)
    total = per_part.agg(
        F.sum("_val").cast("decimal(30,8)").alias("_total"),
        F.count(F.lit(1)).alias("_np"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_val").cast("decimal(30,8)") * F.col("_np") * 2
            > F.col("_total") * 3
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("_val").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


Q11_IMPORTANT_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS _val
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT CAST(SUM(_val) AS DECIMAL(30,8)) AS _total,
         CAST(COUNT(*) AS BIGINT) AS _np
  FROM per_part
)
SELECT l_partkey AS partkey, CAST(_val AS DOUBLE) AS part_value
FROM per_part CROSS JOIN tot
WHERE CAST(_val AS DECIMAL(30,8)) * _np * 2 > _total * 3
ORDER BY part_value DESC, partkey
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape ("parts/supplier relationship"): how many
    DISTINCT suppliers trade each (brand, type, size) part family,
    excluding suppliers on a complaints list — the COUNT(DISTINCT)
    with a NOT-IN-subquery exclusion. Complaints list := suppliers
    with a negative account balance (this corpus has no comment text).

    Spark shape: the NOT IN decorrelates to a LEFT ANTI join against
    the (tiny, broadcast) excluded-supplier relation BEFORE the
    distinct aggregation — anti-then-aggregate, never aggregate-then-
    filter. The supply relation dedups (partkey, suppkey) first so the
    count-distinct is a plain count over an already-distinct relation.

    Scale shape: one fact shuffle on (l_partkey, l_suppkey) for the
    dedup; part attributes broadcast in afterwards. At 100 TB the
    distinct pre-pass is the standard two-level distinct-agg rewrite.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    supply = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == bad["s_suppkey"],
            "left_anti",
        )
    )
    return (
        supply.join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


Q16_SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (1, 5, 15, 25, 35, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def supplier_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores (operators/graph.hits, Kleinberg 1999) for
    suppliers over the DIRECTED customer→supplier trade relation, read
    from the SAME persisted edge state as the pagerank/LPA/BFS family:
    the undirected state pre-explodes both directions, so selecting the
    rows whose src is on the customer side reconstructs the directed
    bipartite relation with summed weights — zero fact-table exchanges.
    Customers act as hubs, suppliers as authorities; 3 mutual-
    reinforcement iterations, L1-normalized. The oracle replays the edge
    build and all unrolled half-steps in generated SQL from the raw
    tables, so the state path itself is value-hash-checked (same
    discipline as the PageRank/k-core oracles)."""
    from rust_cdc_validator_spark.operators.graphstate import (
        hits_from_state,
    )

    scores = hits_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), "c", iterations=3
    )
    return (
        scores.filter(F.col("node").startswith("s"))
        .select(
            F.col("node")
            .substr(F.lit(2), F.lit(30))
            .cast("long")
            .alias("suppkey"),
            F.round("auth", 8).alias("auth_r"),
        )
        .orderBy(F.col("auth_r").desc(), "suppkey")
    )


def _hits_oracle_sql(iterations: int = 3) -> str:
    """Unrolled HITS half-steps mirroring operators/graph.hits — RAW
    mutual-reinforcement sums (auth from hub, then hub from the NEW
    auth), L1-normalized ONCE at the end, exactly like the operator —
    generated so the iteration count lives in one place (PageRank-oracle
    discipline)."""
    ctes = [
        """pair AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_suppkey
)""",
        "h0 AS (SELECT DISTINCT src AS node, 1.0 AS hub FROM pair)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""a{k} AS (
  SELECT p.dst AS node, SUM(p.w * h.hub) AS auth
  FROM pair p JOIN h{k - 1} h ON p.src = h.node GROUP BY p.dst
)"""
        )
        ctes.append(
            f"""h{k} AS (
  SELECT p.src AS node, SUM(p.w * a.auth) AS hub
  FROM pair p JOIN a{k} a ON p.dst = a.node GROUP BY p.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey,
       round(auth / (SELECT SUM(auth) FROM a{iterations}), 8) AS auth_r
FROM a{iterations}
ORDER BY auth_r DESC, suppkey"""
    )


SUPPLIER_HITS_AUTHORITY_SQL = _hits_oracle_sql()


def supplier_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (operators/graph.adamic_adar, Adamic
    & Adar 2003) between suppliers through shared customers, read from
    the persisted trade edge state: which supplier pairs are most likely
    to be substitutable / co-recommendable, with promiscuous customers
    discounted by 1/ln(degree). Top-40 by rounded score with a
    (suppkey_a, suppkey_b) tie-break — rounding BEFORE the order makes
    the cut engine-portable (the sum of 1/ln(d) terms is a double)."""
    from rust_cdc_validator_spark.operators.graphstate import (
        adamic_adar_from_state,
    )

    pairs = adamic_adar_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), "c", max_degree=1000
    )
    return (
        pairs.select(
            F.col("node_a")
            .substr(F.lit(2), F.lit(30))
            .cast("long")
            .alias("suppkey_a"),
            F.col("node_b")
            .substr(F.lit(2), F.lit(30))
            .cast("long")
            .alias("suppkey_b"),
            "common_neighbors",
            F.round("aa_score", 8).alias("aa_r"),
        )
        .orderBy(F.col("aa_r").desc(), "suppkey_a", "suppkey_b")
        .limit(40)
    )


SUPPLIER_LINK_PREDICTION_SQL = """
WITH pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT src, COUNT(*) AS d FROM pair GROUP BY src
), weighted AS (
  SELECT p.src, p.dst, 1.0 / ln(deg.d) AS aa
  FROM pair p JOIN deg ON p.src = deg.src
  WHERE deg.d BETWEEN 2 AND 1000
), pairs AS (
  SELECT a.dst AS node_a, b.dst AS node_b,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         round(SUM(a.aa), 8) AS aa_r
  FROM weighted a JOIN weighted b ON a.src = b.src AND a.dst < b.dst
  GROUP BY a.dst, b.dst
)
SELECT CAST(substring(node_a, 2) AS BIGINT) AS suppkey_a,
       CAST(substring(node_b, 2) AS BIGINT) AS suppkey_b,
       common_neighbors, aa_r
FROM pairs
ORDER BY aa_r DESC, suppkey_a, suppkey_b
LIMIT 40
"""


def docs_lang_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix from a distributed multinomial Naive
    Bayes classifier (operators/classify.py): fit add-1-smoothed token
    likelihoods on the md5-deterministic 7/8 train split, score the held
    out 1/8, count (actual, predicted) pairs — the train/apply loop of a
    corpus quality or language filter, fully oracled. Scores sum as
    exact DECIMAL(20,12) (log-likelihoods quantized at fit time), so the
    per-document argmax is bit-portable between Spark and the SQL
    replay; the measured top-2 margin on this corpus is ~1e-3, six
    orders above the quantization."""
    from rust_cdc_validator_spark.operators.classify import (
        naive_bayes_fit,
        naive_bayes_score,
    )

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ) % 8
    train = docs.filter(bucket != 0)
    test = docs.filter(bucket == 0)
    model = naive_bayes_fit(train, text_col="text", label_col="lang")
    scored = naive_bayes_score(test, model, id_col="doc_id", text_col="text")
    return (
        scored.join(test.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("actual"), "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


DOCS_LANG_NB_CONFUSION_SQL = """
WITH train AS (
  SELECT * FROM documents
  WHERE (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 <> 0
), test AS (
  SELECT * FROM documents
  WHERE (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 = 0
), ttok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM train
), tl AS (
  SELECT lang, token, COUNT(*) AS c
  FROM ttok WHERE token <> '' GROUP BY lang, token
), lt AS (
  SELECT lang, SUM(c) AS tot FROM tl GROUP BY lang
), voc AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM tl
), lik AS (
  SELECT tl.lang, tl.token,
         CAST(round(ln((tl.c + 1.0) / (lt.tot + voc.v)), 12)
              AS DECIMAL(20,12)) AS ll
  FROM tl JOIN lt ON tl.lang = lt.lang CROSS JOIN voc
), stats AS (
  SELECT lt.lang,
         CAST(round(ln(1.0 / (lt.tot + voc.v)), 12)
              AS DECIMAL(20,12)) AS ld,
         CAST(round(ln(CAST(p.nd AS DOUBLE) / (SELECT COUNT(*) FROM train)),
                    12) AS DECIMAL(20,12)) AS lp
  FROM lt CROSS JOIN voc
  JOIN (SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang) p
    ON p.lang = lt.lang
), stok AS (
  SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS token
  FROM test
), scored AS (
  SELECT s.doc_id, s.actual, st.lang AS cand,
         MAX(st.lp) + SUM(coalesce(l.ll, st.ld)) AS sc
  FROM stok s
  CROSS JOIN stats st
  LEFT JOIN lik l ON l.token = s.token AND l.lang = st.lang
  WHERE s.token <> ''
  GROUP BY s.doc_id, s.actual, st.lang
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY sc DESC, cand) AS rn
  FROM scored
)
SELECT actual, cand AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1
GROUP BY actual, cand
ORDER BY actual, predicted
"""


def events_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (operators/timeseries.autocorrelation) of the
    hourly mean event value at lags 1–24h: does activity an hour / a day
    ago predict activity now — the seasonality probe that decides
    rollup granularity and anomaly baselines. The hourly series
    aggregates value as exact decimal before the mean division, the lag
    alignment is a self-equi-join (no single-partition window), and the
    Pearson correlation assembles from five exact-decimal sums with one
    final double expression — the whole pipeline replayed term-for-term
    by the DuckDB oracle."""
    from rust_cdc_validator_spark.operators.timeseries import (
        autocorrelation,
    )

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg(
        (
            _dsum(F.col("value")) / F.count(F.lit(1))
        ).alias("mean_value")
    )
    acf = autocorrelation(
        hourly, "hour_bucket", "mean_value", lags=[1, 2, 3, 6, 12, 24]
    )
    return acf.select(
        "lag", "n_pairs", F.round("acf", 8).alias("acf_r")
    ).orderBy("lag")


EVENTS_VALUE_ACF_SQL = f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS hour_bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS mean_value
  FROM events GROUP BY 1
), lagged AS (
  SELECT l.lag, a.mean_value AS x, b.mean_value AS y
  FROM hourly a
  CROSS JOIN (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag) l
  JOIN hourly b ON a.hour_bucket + l.lag = b.hour_bucket
), sums AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS DECIMAL(38,12))) AS sx,
         SUM(CAST(y AS DECIMAL(38,12))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
  FROM lagged GROUP BY lag
)
SELECT lag, n_pairs,
       round(
         (n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(
             (n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           ),
         8) AS acf_r
FROM sums
ORDER BY lag
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape ("forecasting revenue change"): one-table scan with
    a conjunctive range predicate on three columns and a single exact-
    decimal product sum — the pushdown litmus test (every predicate
    lands in PushedFilters; the scan reads four columns of sixteen).
    Completes the TPC-H shape set: every one of the 22 queries now has
    a catalog counterpart (direct or adapted — see SCALE.md)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(
                F.col("l_extendedprice") * F.col("l_discount"),
                "decimal(24,8)",
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,8)))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def nb_english_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC (operators/classify.roc_auc, Mann-Whitney midrank form)
    of the Naive Bayes "en" log-posterior as a ranking score for
    English test documents — the classifier-evaluation step after the
    confusion matrix (``docs_lang_nb_confusion``): same md5 split, same
    fit, but the per-label scores survive (keep_scores) and the en
    column becomes the score of a binary en-vs-rest detector. The whole
    U statistic stays integer until one final division (scores are
    exact decimals, negatives-below is a prefix count), so the AUC is
    bit-portable; the prefix scan runs over distinct-score buckets
    (≤ one per test doc), never the fact relation."""
    from rust_cdc_validator_spark.operators.classify import (
        naive_bayes_fit,
        naive_bayes_score,
        roc_auc,
    )

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ) % 8
    train = docs.filter(bucket != 0)
    test = docs.filter(bucket == 0)
    model = naive_bayes_fit(train, text_col="text", label_col="lang")
    scores = naive_bayes_score(
        test, model, id_col="doc_id", text_col="text", keep_scores=True
    ).filter(F.col("label") == "en")
    labeled = scores.join(test.select("doc_id", "lang"), "doc_id").select(
        (F.col("lang") == "en").alias("is_en"), "score"
    )
    auc = roc_auc(labeled, label_col="is_en", score_col="score")
    return auc.select(
        "n_pos", "n_neg", F.round("auc", 8).alias("auc_r")
    )


_NB_SCORED_CTE = """
WITH train AS (
  SELECT * FROM documents
  WHERE (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 <> 0
), test AS (
  SELECT * FROM documents
  WHERE (strpos('0123456789abcdef',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 = 0
), ttok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM train
), tl AS (
  SELECT lang, token, COUNT(*) AS c
  FROM ttok WHERE token <> '' GROUP BY lang, token
), lt AS (
  SELECT lang, SUM(c) AS tot FROM tl GROUP BY lang
), voc AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM tl
), lik AS (
  SELECT tl.lang, tl.token,
         CAST(round(ln((tl.c + 1.0) / (lt.tot + voc.v)), 12)
              AS DECIMAL(20,12)) AS ll
  FROM tl JOIN lt ON tl.lang = lt.lang CROSS JOIN voc
), stats AS (
  SELECT lt.lang,
         CAST(round(ln(1.0 / (lt.tot + voc.v)), 12)
              AS DECIMAL(20,12)) AS ld,
         CAST(round(ln(CAST(p.nd AS DOUBLE) / (SELECT COUNT(*) FROM train)),
                    12) AS DECIMAL(20,12)) AS lp
  FROM lt CROSS JOIN voc
  JOIN (SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang) p
    ON p.lang = lt.lang
), stok AS (
  SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS token
  FROM test
), scored AS (
  SELECT s.doc_id, s.actual, st.lang AS cand,
         MAX(st.lp) + SUM(coalesce(l.ll, st.ld)) AS sc
  FROM stok s
  CROSS JOIN stats st
  LEFT JOIN lik l ON l.token = s.token AND l.lang = st.lang
  WHERE s.token <> ''
  GROUP BY s.doc_id, s.actual, st.lang
)"""

NB_ENGLISH_AUC_SQL = _NB_SCORED_CTE + """,
en_scores AS (
  SELECT (actual = 'en') AS pos, sc FROM scored WHERE cand = 'en'
), buckets AS (
  SELECT sc,
         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
  FROM en_scores GROUP BY sc
), pb AS (
  SELECT np, nn,
         SUM(nn) OVER (ORDER BY sc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - nn AS cum_below
  FROM buckets
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       round(CAST(SUM(np * (2 * cum_below + nn)) AS DOUBLE)
             / (2.0 * SUM(np) * SUM(nn)), 8) AS auc_r
FROM pb
"""


def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal indices (operators/timeseries.
    seasonal_decompose, classical additive 2×24 CMA) of the hourly mean
    event value: how much each of the 24 daily phases sits above/below
    trend — the seasonality fingerprint that pairs with
    ``events_value_acf``'s lag view. Every accumulation is an exact
    decimal sum over doubles (window sums, phase means, grand
    centering), so the DuckDB oracle replays the full decomposition
    term-for-term; the RANGE windows run over the bounded hourly
    relation, never events."""
    from rust_cdc_validator_spark.operators.timeseries import (
        seasonal_decompose,
    )

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    dec = seasonal_decompose(hourly, "hour_bucket", "mean_value", period=24)
    return dec.select(
        F.col("phase").alias("hour_of_day"),
        "n_obs",
        F.round("seasonal", 8).alias("seasonal_r"),
    ).orderBy("hour_of_day")


EVENTS_HOURLY_SEASONALITY_SQL = f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS t,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1
), trended AS (
  SELECT t % 24 AS phase,
         CASE WHEN COUNT(*) OVER w_full = 25 THEN
           x - (
             CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 11 PRECEDING AND 11 FOLLOWING)
                  AS DOUBLE)
             + 0.5 * CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING)
                  AS DOUBLE)
             + 0.5 * CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 12 FOLLOWING AND 12 FOLLOWING)
                  AS DOUBLE)
           ) / 24
         END AS d
  FROM hourly
  WINDOW w_full AS (ORDER BY t RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), phase_means AS (
  SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(d AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
  FROM trended WHERE d IS NOT NULL GROUP BY phase
), grand AS (
  SELECT CAST(SUM(CAST(m AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS g
  FROM phase_means
)
SELECT phase AS hour_of_day, n_obs, round(m - g, 8) AS seasonal_r
FROM phase_means CROSS JOIN grand
ORDER BY hour_of_day
"""


def cdc_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (operators/replay.scd2_history) from the SAME
    synthesized LOAD+U+D change log as ``cdc_replay_orders`` — the
    history-preserving view of the replay the reference collapses to
    final state (every version with its half-open validity interval,
    deletes closing chains without opening versions). Sliced to keys
    %100 = 0 so the result stays bounded while covering all three
    lifecycles (plain insert, update chain, deleted key)."""
    from rust_cdc_validator_spark.operators.replay import scd2_history

    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    load = orders.select(
        "o_orderkey", "o_totalprice",
        F.lit("I").alias("Op"), F.col("o_orderkey").cast("long").alias("_seq"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("U").alias("Op"),
        (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_totalprice",
        F.lit("D").alias("Op"),
        (stride * 2 + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    hist = scd2_history(
        load.unionByName(updates).unionByName(deletes), ["o_orderkey"]
    )
    return (
        hist.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey", "o_totalprice",
            "valid_from", "valid_to", "is_current",
        )
        .orderBy("o_orderkey", "valid_from")
    )


CDC_ORDERS_SCD2_SQL = """
WITH log AS (
  SELECT o_orderkey, o_totalprice, 'I' AS op,
         o_orderkey AS seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice + 10.0, 'U',
         1099511627776 + o_orderkey
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, 'D',
         2199023255552 + o_orderkey
  FROM orders WHERE o_orderkey % 13 = 0
), h AS (
  SELECT *,
         lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rev
  FROM log
)
SELECT o_orderkey, o_totalprice,
       seq AS valid_from, next_seq AS valid_to,
       (rev = 1) AS is_current
FROM h
WHERE op <> 'D' AND o_orderkey % 100 = 0
ORDER BY o_orderkey, valid_from
"""


def cdc_orders_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time AS-OF read (operators/replay.scd2_asof) of the SCD2
    history at the mid-log instant 1.5·2^40 — the update wave is already
    applied (every %7 key shows its +10 version), the delete wave is
    not (every %13 key is still present): the SQL:2011 temporal-table
    read over the history relation the validator already maintains.
    Spark shape: a pure interval filter on the history — no extra
    shuffle beyond the history build's key window; on a PERSISTED
    history the valid_from/valid_to range predicates prune at the scan.
    Sliced to keys %100 = 0 like ``cdc_orders_scd2``."""
    from rust_cdc_validator_spark.operators.replay import (
        scd2_asof,
        scd2_history,
    )

    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    load = orders.select(
        "o_orderkey", "o_totalprice",
        F.lit("I").alias("Op"), F.col("o_orderkey").cast("long").alias("_seq"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("U").alias("Op"),
        (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_totalprice",
        F.lit("D").alias("Op"),
        (stride * 2 + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    hist = scd2_history(
        load.unionByName(updates).unionByName(deletes), ["o_orderkey"]
    )
    state = scd2_asof(hist, (1 << 40) + (1 << 39))
    return (
        state.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_totalprice", "valid_from")
        .orderBy("o_orderkey")
    )


CDC_ORDERS_SCD2_ASOF_SQL = """
WITH log AS (
  SELECT o_orderkey, o_totalprice, 'I' AS op, o_orderkey AS seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice + 10.0, 'U', 1099511627776 + o_orderkey
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, 'D', 2199023255552 + o_orderkey
  FROM orders WHERE o_orderkey % 13 = 0
), h AS (
  SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
  FROM log
)
SELECT o_orderkey, o_totalprice, seq AS valid_from
FROM h
WHERE op <> 'D'
  AND seq <= 1649267441664
  AND (next_seq IS NULL OR next_seq > 1649267441664)
  AND o_orderkey % 100 = 0
ORDER BY o_orderkey
"""


_SCD2_HISTORY_CACHE: dict[str, str] = {}


def _orders_scd2_history_for(spark: SparkSession, sf_dir: str) -> str:
    """Persist (once per process per sf_dir) the synthesized orders SCD2
    history that ``cdc_orders_scd2_asof`` builds in-plan — RANGE-
    partitioned and sorted by ``valid_from`` (the ``operators/state.py``
    persistence discipline), so AS-OF range predicates prune whole
    FILES (range partitioning keeps each valid_from span in its own
    files) and row-groups (the within-file sort gives tight min/max
    stats). This is the layout a standing temporal table actually has
    at 100 TB: history written once per maintenance run, every
    point-in-time read a pruned scan — exercised here so the pruning
    claim is pinned against a real persisted relation
    (tests/test_plans.py::test_scd2_asof_persisted_pruning), not just
    documented."""
    path = _SCD2_HISTORY_CACHE.get(sf_dir)
    if path is None:
        import tempfile

        from rust_cdc_validator_spark.operators.replay import scd2_history

        orders = _t(spark, sf_dir, "orders")
        stride = F.lit(1 << 40)
        load = orders.select(
            "o_orderkey", "o_totalprice",
            F.lit("I").alias("Op"),
            F.col("o_orderkey").cast("long").alias("_seq"),
        )
        updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            F.lit("U").alias("Op"),
            (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
        )
        deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
            "o_orderkey", "o_totalprice",
            F.lit("D").alias("Op"),
            (stride * 2 + F.col("o_orderkey")).cast("long").alias("_seq"),
        )
        hist = scd2_history(
            load.unionByName(updates).unionByName(deletes), ["o_orderkey"]
        )
        path = tempfile.mkdtemp(prefix="orders_scd2_hist_")
        (
            hist.repartitionByRange(8, "valid_from")
            .sortWithinPartitions("valid_from")
            .write.mode("overwrite")
            .parquet(path)
        )
        _SCD2_HISTORY_CACHE[sf_dir] = path
    return path


def cdc_orders_scd2_asof_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2011 AS-OF read over a PERSISTED SCD2 history — the same
    instant, slice, and answer as ``cdc_orders_scd2_asof``, but reading
    the history back from parquet instead of synthesizing it in-plan:
    ``scd2_asof``'s interval predicates (valid_from <= t, valid_to IS
    NULL OR valid_to > t) reach the scan as PushedFilters, and because
    the history is range-partitioned + sorted by valid_from the t-bound
    prunes files and row-groups — the read pattern a temporal table
    serves at 100 TB, where scanning the full history per point-in-time
    query would be the dominant cost. History build memoized per
    process (build-once/read-many, the standing-pipeline contract);
    the oracle recomputes the same history arithmetic from raw orders."""
    from rust_cdc_validator_spark.operators.replay import scd2_asof

    hist = spark.read.parquet(_orders_scd2_history_for(spark, sf_dir))
    state = scd2_asof(hist, (1 << 40) + (1 << 39))
    return (
        state.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_totalprice", "valid_from")
        .orderBy("o_orderkey")
    )


CDC_ORDERS_SCD2_ASOF_PERSISTED_SQL = CDC_ORDERS_SCD2_ASOF_SQL


def cdc_orders_scd2_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal diff between two AS-OF instants of the SCD2 history
    (operators/replay.scd2_asof_diff) — "what drifted between t1 and
    t2?", the validator's own question answered from the history
    relation in ONE pass instead of the reference's full source/target
    re-diff per run (cdc_operator.rs:254-288). The synthesized change
    log extends ``cdc_orders_scd2``'s with an insert wave of NEW
    (negated) keys so all four transition classes occur: %7 keys update
    (changed), %13 keys delete (removed), %11==3 keys are born between
    the instants (added), %91 keys update THEN delete (removed — the
    intermediate version must not leak into the verdict).

    Spark shape: both instants are conditional aggregates of the same
    scan — one hash shuffle on the key, at most one visible version per
    instant picked by max(when(visible, col)), no self-join. Scale
    shape: one groupBy over the history slice; valid_from <= t2 prunes
    later versions at the scan."""
    from rust_cdc_validator_spark.operators.replay import (
        scd2_asof_diff,
        scd2_history,
    )

    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    load = orders.select(
        "o_orderkey", "o_totalprice",
        F.lit("I").alias("Op"), F.col("o_orderkey").cast("long").alias("_seq"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("U").alias("Op"),
        (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    births = orders.filter(F.col("o_orderkey") % 11 == 3).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_totalprice",
        F.lit("I").alias("Op"),
        (stride + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_totalprice",
        F.lit("D").alias("Op"),
        (stride * 2 + F.col("o_orderkey")).cast("long").alias("_seq"),
    )
    hist = scd2_history(
        load.unionByName(updates).unionByName(births).unionByName(deletes),
        ["o_orderkey"],
    )
    diff = scd2_asof_diff(
        hist, ["o_orderkey"], 1 << 40, 3 * (1 << 40), ["o_totalprice"]
    )
    return (
        diff.filter(F.col("change_type") != "unchanged")
        .select(
            "o_orderkey", "change_type",
            "o_totalprice_t1", "o_totalprice_t2",
        )
        .orderBy("o_orderkey")
    )


CDC_ORDERS_SCD2_ASOF_DIFF_SQL = """
WITH log AS (
  SELECT o_orderkey, o_totalprice, 'I' AS op, o_orderkey AS seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice + 10.0, 'U', 1099511627776 + o_orderkey
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT -o_orderkey, o_totalprice, 'I', 1099511627776 + o_orderkey
  FROM orders WHERE o_orderkey % 11 = 3
  UNION ALL
  SELECT o_orderkey, o_totalprice, 'D', 2199023255552 + o_orderkey
  FROM orders WHERE o_orderkey % 13 = 0
), h AS (
  SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
  FROM log
), hist AS (
  SELECT o_orderkey, o_totalprice, seq AS valid_from, next_seq AS valid_to
  FROM h WHERE op <> 'D'
), flags AS (
  SELECT o_orderkey,
         MAX(CASE WHEN valid_from <= 1099511627776
                   AND (valid_to IS NULL OR valid_to > 1099511627776)
                  THEN o_totalprice END) AS o_totalprice_t1,
         MAX(CASE WHEN valid_from <= 3298534883328
                   AND (valid_to IS NULL OR valid_to > 3298534883328)
                  THEN o_totalprice END) AS o_totalprice_t2,
         MAX(CASE WHEN valid_from <= 1099511627776
                   AND (valid_to IS NULL OR valid_to > 1099511627776)
                  THEN 1 ELSE 0 END) AS has1,
         MAX(CASE WHEN valid_from <= 3298534883328
                   AND (valid_to IS NULL OR valid_to > 3298534883328)
                  THEN 1 ELSE 0 END) AS has2
  FROM hist
  WHERE valid_from <= 3298534883328
  GROUP BY o_orderkey
), classified AS (
  SELECT o_orderkey,
         CASE WHEN has1 = 0 AND has2 = 1 THEN 'added'
              WHEN has1 = 1 AND has2 = 0 THEN 'removed'
              WHEN o_totalprice_t1 IS DISTINCT FROM o_totalprice_t2
              THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         o_totalprice_t1, o_totalprice_t2
  FROM flags
)
SELECT o_orderkey, change_type, o_totalprice_t1, o_totalprice_t2
FROM classified
WHERE change_type <> 'unchanged'
ORDER BY o_orderkey
"""


def orders_price_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein drift (operators/drift.wasserstein_1d) between
    early-era (< 1998) and late-era order prices — the KS companion
    that weighs HOW FAR the mass moved, not just the largest CDF gap.
    Same sides as ``orders_price_ks_drift`` so the two metrics read as
    one drift panel. CDF gaps stay integer, per-interval terms sum as
    exact decimal, one division at the end; the consecutive-value gap
    is a two-phase distributed lead (no global window over the cells
    relation)."""
    from rust_cdc_validator_spark.operators.drift import wasserstein_1d

    orders = _t(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    late = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    return wasserstein_1d(early, late, "o_totalprice")


ORDERS_PRICE_WASSERSTEIN_SQL = """
WITH cells AS (
  SELECT _v,
         SUM(_ca) AS _na,
         SUM(_cb) AS _nb
  FROM (
    SELECT o_totalprice AS _v, 1 AS _ca, 0 AS _cb FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
    UNION ALL
    SELECT o_totalprice, 0, 1 FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
  ) pooled
  GROUP BY _v
), cum AS (
  SELECT _v,
         SUM(_na) OVER (ORDER BY _v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _fa,
         SUM(_nb) OVER (ORDER BY _v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _fb,
         lead(_v) OVER (ORDER BY _v) AS _nxt
  FROM cells
), tot AS (
  SELECT CAST(SUM(_na) AS BIGINT) AS ta, CAST(SUM(_nb) AS BIGINT) AS tb
  FROM cells
)
SELECT ta AS n_a, tb AS n_b,
       round(
         CAST(SUM(CAST(CAST(abs(_fa * tb - _fb * ta) AS DOUBLE)
                       * coalesce(_nxt - _v, 0.0)
                       AS DECIMAL(38,12))) AS DOUBLE)
         / (CAST(ta AS DOUBLE) * tb),
         6) AS w1
FROM cum CROSS JOIN tot
GROUP BY ta, tb
"""


def parts_cotrade_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients (operators/graph.
    clustering_coefficient, Watts & Strogatz 1998) of the 1995 co-order
    parts graph, read from the SAME persisted co-occur edge state as
    ``parts_cotrade_triangles``: cc(v) = closed neighbor pairs / all
    neighbor pairs — near 1 marks basket cliques, near 0 on high degree
    marks hub parts stitching unrelated baskets. Top-100 by
    (cc_r DESC, degree DESC, partkey) — rounding before the order keeps
    the cut engine-portable; the integer (triangles, degree) tie-break
    makes it total."""
    from rust_cdc_validator_spark.operators.graphstate import (
        clustering_coefficient_from_state,
    )

    cc = clustering_coefficient_from_state(
        spark, _cooccur_edge_state_for(spark, sf_dir, "l_partkey")
    )
    return (
        cc.select(
            F.col("node").alias("partkey"),
            "degree",
            "triangles",
            F.round("cc", 8).alias("cc_r"),
        )
        .orderBy(F.col("cc_r").desc(), F.col("degree").desc(), "partkey")
        .limit(100)
    )


PARTS_COTRADE_CLUSTERING_SQL = """
WITH op AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l JOIN orders od ON l.l_orderkey = od.o_orderkey
  WHERE EXTRACT(year FROM od.o_orderdate) = 1995
), und AS (
  SELECT DISTINCT x.p AS a, y.p AS b
  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
), orient AS (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS s,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS t,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS td
  FROM und u
  JOIN deg da ON u.a = da.node
  JOIN deg db ON u.b = db.node
), tri AS (
  SELECT o1.s AS u, o1.t AS x, o2.t AS y
  FROM orient o1
  JOIN orient o2 ON o1.s = o2.s
  JOIN orient e ON e.s = o1.t AND e.t = o2.t
  WHERE (o1.td, o1.t) < (o2.td, o2.t)
), tcount AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
  ) GROUP BY node
)
SELECT deg.node AS partkey,
       CAST(deg.d AS BIGINT) AS degree,
       coalesce(t.triangles, 0) AS triangles,
       round(CAST(coalesce(t.triangles, 0) * 2 AS DOUBLE)
             / (CAST(deg.d AS DOUBLE) * (deg.d - 1)), 8) AS cc_r
FROM deg LEFT JOIN tcount t ON deg.node = t.node
WHERE deg.d >= 2
ORDER BY cc_r DESC, degree DESC, partkey
LIMIT 100
"""


def events_value_volume_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (operators/timeseries.
    cross_correlation) between hourly event VOLUME and hourly mean
    VALUE at lags −6…+6: does activity volume lead value or trail it —
    the causal-direction probe that pairs with ``events_value_acf``'s
    self-memory view. Positive lags test volume→value, negative the
    reverse; one exploded self-equi-join, five exact-decimal sums per
    lag, division once."""
    from rust_cdc_validator_spark.operators.timeseries import (
        cross_correlation,
    )

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("volume"),
        (_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"),
    )
    xc = cross_correlation(
        hourly, "hour_bucket", "volume", "mean_value",
        lags=[-6, -3, -1, 0, 1, 3, 6],
    )
    return xc.select(
        "lag", "n_pairs", F.round("corr", 8).alias("corr_r")
    ).orderBy("lag")


EVENTS_VALUE_VOLUME_XCORR_SQL = f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS t,
         CAST(COUNT(*) AS DOUBLE) AS x,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS y
  FROM events GROUP BY 1
), lagged AS (
  SELECT l.lag, a.x, b.y
  FROM hourly a
  CROSS JOIN (SELECT unnest([-6, -3, -1, 0, 1, 3, 6]) AS lag) l
  JOIN hourly b ON a.t + l.lag = b.t
), sums AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS DECIMAL(38,12))) AS sx,
         SUM(CAST(y AS DECIMAL(38,12))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
  FROM lagged GROUP BY lag
)
SELECT lag, n_pairs,
       round(
         (n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(
             (n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           ),
         8) AS corr_r
FROM sums
ORDER BY lag
"""


def nb_english_score_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift (operators/drift.decile_lift) of the Naive Bayes
    "en" score against the is-English truth — the calibration view that
    completes the classifier-eval panel (confusion matrix → AUC →
    lift): how concentrated are the true English docs in the top score
    deciles. Reuses the exact-decimal NB scores, so the decile cut is
    engine-portable; ranks come from the two-phase prefix scan, never a
    global window."""
    from rust_cdc_validator_spark.operators.classify import (
        naive_bayes_fit,
        naive_bayes_score,
    )
    from rust_cdc_validator_spark.operators.drift import decile_lift

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ) % 8
    train = docs.filter(bucket != 0)
    test = docs.filter(bucket == 0)
    model = naive_bayes_fit(train, text_col="text", label_col="lang")
    scores = naive_bayes_score(
        test, model, id_col="doc_id", text_col="text", keep_scores=True
    ).filter(F.col("label") == "en")
    labeled = scores.join(test.select("doc_id", "lang"), "doc_id").select(
        F.col("score").cast("double").alias("en_score"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
        "doc_id",
    )
    return decile_lift(labeled, "en_score", "is_en", "doc_id", buckets=10)


NB_ENGLISH_SCORE_LIFT_SQL = _NB_SCORED_CTE + """,
lab AS (
  SELECT s.doc_id, CAST(s.sc AS DOUBLE) AS sv,
         CASE WHEN s.actual = 'en' THEN 1 ELSE 0 END AS y
  FROM scored s WHERE s.cand = 'en'
), r AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY sv DESC, doc_id) - 1 AS rk FROM lab
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p FROM lab
), g AS (
  SELECT CAST(FLOOR(CAST(rk AS DOUBLE) * 10 / t.n) AS INT) AS bucket, y
  FROM r CROSS JOIN t
), per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM g GROUP BY bucket
)
SELECT bucket, n_rows, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS rate,
       round((CAST(n_pos AS DOUBLE) / n_rows)
             / (CAST(t.p AS DOUBLE) / t.n), 6) AS lift,
       round(CAST(SUM(n_pos) OVER (ORDER BY bucket) AS DOUBLE) / t.p, 6)
         AS cum_capture
FROM per CROSS JOIN t
"""


def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly screen (operators/timeseries.
    seasonal_residuals): hours whose mean event value sits furthest
    from trend + hour-of-day seasonality, as residual z-scores — the
    classical decomposition-based detector (a spike the daily rhythm
    cannot explain). Top-20 by |z| with a tick tie-break; the z
    denominator is the residuals' sample stddev via the TWO-PASS exact
    decimal sum of squared deviations — non-negative by construction
    (the one-pass n·Σr² − (Σr)² form cancels to a tiny NEGATIVE double
    when residuals are near-identical, which DuckDB's sqrt rejects
    outright), so the whole screen replays in SQL at every SF."""
    from rust_cdc_validator_spark.operators.timeseries import (
        seasonal_residuals,
    )

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    res = seasonal_residuals(hourly, "hour_bucket", "mean_value", period=24)
    res = res.localCheckpoint(eager=False)
    dec = "decimal(38,12)"
    mean_rel = res.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum(F.col("residual").cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "_mu"
        ),
    )
    dev = F.col("residual") - F.col("_mu")
    s2_rel = res.crossJoin(F.broadcast(mean_rel)).agg(
        F.max("_n").alias("_n"),
        F.sum((dev * dev).cast(dec)).cast("double").alias("_s2"),
    )
    std = F.sqrt(F.col("_s2") / (F.col("_n") - 1))
    z = F.when(F.col("_s2") > 0, F.round(F.col("residual") / std, 6))
    return (
        res.crossJoin(F.broadcast(s2_rel))
        .select(
            F.col("tick").alias("hour_bucket"),
            F.round("residual", 6).alias("residual_r"),
            z.alias("z_r"),
        )
        .orderBy(F.abs(F.col("z_r")).desc(), "hour_bucket")
        .limit(20)
    )


EVENTS_HOURLY_ANOMALIES_SQL = f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS t,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1
), trended AS (
  SELECT t, t % 24 AS phase, x,
         CASE WHEN COUNT(*) OVER w_full = 25 THEN
           (
             CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 11 PRECEDING AND 11 FOLLOWING)
                  AS DOUBLE)
             + 0.5 * CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING)
                  AS DOUBLE)
             + 0.5 * CAST(SUM(CAST(x AS DECIMAL(38,12)))
                  OVER (ORDER BY t RANGE BETWEEN 12 FOLLOWING AND 12 FOLLOWING)
                  AS DOUBLE)
           ) / 24
         END AS trend
  FROM hourly
  WINDOW w_full AS (ORDER BY t RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), phase_means AS (
  SELECT phase,
         CAST(SUM(CAST(x - trend AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
  FROM trended WHERE trend IS NOT NULL GROUP BY phase
), grand AS (
  SELECT CAST(SUM(CAST(m AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS g
  FROM phase_means
), res AS (
  SELECT tr.t, tr.x - tr.trend - (pm.m - grand.g) AS residual
  FROM trended tr
  JOIN phase_means pm ON tr.phase = pm.phase
  CROSS JOIN grand
  WHERE tr.trend IS NOT NULL
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(residual AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu
  FROM res
), s2s AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST((residual - mu) * (residual - mu)
                       AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM res CROSS JOIN stats
)
SELECT t AS hour_bucket,
       round(residual, 6) AS residual_r,
       CASE WHEN s2 > 0
            THEN round(residual / sqrt(s2 / (n - 1)), 6) END AS z_r
FROM res CROSS JOIN s2s
ORDER BY abs(CASE WHEN s2 > 0
                  THEN round(residual / sqrt(s2 / (n - 1)), 6) END) DESC,
         hour_bucket
LIMIT 20
"""


def customer_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival of customer re-order gaps
    (operators/timeseries.kaplan_meier): every consecutive order pair is
    an observed "re-ordered after t days" duration; the stretch from each
    customer's last order to the dataset horizon is right-CENSORED —
    single-order customers contribute only censoring, which a naive
    average-gap metric silently drops. Output is the full KM table
    (risk set, events, censorings, survival) per distinct gap duration;
    the oracle replays the identical estimator, including the
    events-before-censorings tie rule and the sticky exact-zero guard."""
    from rust_cdc_validator_spark.operators.timeseries import kaplan_meier

    orders = _t(spark, sf_dir, "orders")
    return kaplan_meier(orders, "o_custkey", "o_orderdate")


CUSTOMER_REORDER_SURVIVAL_SQL = """
WITH ev AS (
  SELECT o_custkey AS u, o_orderdate AS d FROM orders
), g AS (
  SELECT date_diff('day', lag(d) OVER (PARTITION BY u ORDER BY d), d) AS dur,
         1 AS ev
  FROM ev
), hz AS (
  SELECT MAX(d) AS h FROM ev
), cens AS (
  SELECT date_diff('day', MAX(d), (SELECT h FROM hz)) AS dur, 0 AS ev
  FROM ev GROUP BY u
), obs AS (
  SELECT dur, ev FROM g WHERE dur IS NOT NULL
  UNION ALL SELECT dur, ev FROM cens
), agg AS (
  SELECT dur,
         CAST(SUM(ev) AS BIGINT) AS n_events,
         CAST(SUM(1 - ev) AS BIGINT) AS n_censored
  FROM obs GROUP BY dur
), km AS (
  SELECT dur, n_events, n_censored,
         CAST(SUM(n_events + n_censored) OVER (
           ORDER BY dur ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS BIGINT) AS n_risk
  FROM agg
)
SELECT CAST(dur AS INT) AS t_days, n_risk, n_events, n_censored,
       CASE WHEN MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
                 OVER pre = 1
            THEN 0.0
            ELSE round(exp(COALESCE(SUM(
                   CASE WHEN n_events < n_risk
                        THEN ln(1 - n_events * 1.0 / n_risk) END
                 ) OVER pre, 0.0)), 6)
       END AS survival
FROM km
WINDOW pre AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Hughes, "Strategic Database Marketing" 1994 —
    the classic recency/frequency/monetary customer grading): per
    ordering customer, recency = latest order date, frequency = order
    count, monetary = lifetime spend; each dimension is cut into exact
    rank QUINTILES and the output is the segment lattice (r_q, f_q,
    m_q) with member counts and spend — the marketing-mix relation a
    warehouse refreshes daily.

    Engine-portable arithmetic contract: monetary sums in CENTS (longs —
    a double sum's addition order could flip a near-tie's rank between
    engines), ranks use a deterministic (metric, custkey) tie-break, and
    the quintile is the INTEGER form ``(5·(rank-1)) div n + 1`` (exact
    in both engines; ceil(5·rank/n) in doubles can straddle a boundary
    ulp).

    Spark shape: the classic NTILE formulation funnels all customers
    through ONE task (global window — the textbook scale cliff); here
    each dimension's global rank is an exclusive prefix count
    (operators/layout.prefix_sum: range exchange + partition-local
    windows + a broadcast offset join over partition TOTALS — the
    documented bounded single-partition-window class). Three ranked
    dimensions = three range exchanges over the customer-level relation;
    no row-scaled single-task stage anywhere. At 100 TB the customer
    relation is the small output of the orders groupBy, and every
    exchange is keyed."""
    from rust_cdc_validator_spark.operators.layout import prefix_sum

    orders = _t(spark, sf_dir, "orders")
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("recency"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("monetary_cents"),
        )
        .withColumn("_one", F.lit(1).cast("long"))
    )
    n = base.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    ranked = base
    for metric, out in (
        ("recency", "r_q"),
        ("frequency", "f_q"),
        ("monetary_cents", "m_q"),
    ):
        ranked = prefix_sum(
            ranked, [metric, "o_custkey"], "_one", out_col="_rank0"
        ).withColumn(out, F.col("_rank0")).drop("_rank0")
    ranked = ranked.crossJoin(F.broadcast(n))
    for out in ("r_q", "f_q", "m_q"):
        ranked = ranked.withColumn(
            out,
            (F.expr(f"5 * {out} div _n") + F.lit(1)).cast("int"),
        )
    return (
        ranked.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


CUSTOMER_RFM_SEGMENTS_SQL = """
WITH base AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS recency,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), n AS (SELECT COUNT(*) AS _n FROM base),
ranked AS (
  SELECT b.*,
    ROW_NUMBER() OVER (ORDER BY recency, o_custkey) - 1 AS rr,
    ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) - 1 AS fr,
    ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey) - 1 AS mr
  FROM base b
)
SELECT CAST((5 * rr) // _n + 1 AS INT) AS r_q,
       CAST((5 * fr) // _n + 1 AS INT) AS f_q,
       CAST((5 * mr) // _n + 1 AS INT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM ranked, n
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by FIRST-order month,
    then cumulative revenue per cohort member at each month of age — the
    revenue companion to ``events_retention_cohorts`` (which only counts
    activity). The running total stays an exact DECIMAL through the
    cohort-partitioned window (ages per cohort are bounded by the date
    span, so the frame buffer is tiny) and is cast to double once at the
    end; cohort size joins back as a broadcast (one row per month).

    Scale shape: one groupBy on customer (first month), one groupBy on
    (cohort, age) — the fact table never shuffles wider than
    (cust, month, price); the cumulative window partitions BY COHORT, so
    it parallelizes across cohorts.
    """
    orders = _t(spark, sf_dir, "orders")
    dec = "decimal(18,2)"
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    o = orders.select(
        F.col("o_custkey").alias("u"),
        ym.alias("ym"),
        F.col("o_totalprice").alias("p"),
    )
    first = o.groupBy("u").agg(F.min("ym").alias("cohort_ym"))
    sizes = first.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    rev = (
        o.join(first, "u")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_months")
        )
        .agg(F.sum(F.col("p").cast(dec)).alias("_mrev"))
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy(F.col("age_months").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("_cum", F.sum("_mrev").over(w))
        .join(F.broadcast(sizes), "cohort_ym")
        .select(
            (F.floor((F.col("cohort_ym") - 1) / 12)).cast("int").alias(
                "cohort_year"
            ),
            ((F.col("cohort_ym") - 1) % 12 + 1).cast("int").alias(
                "cohort_month"
            ),
            F.col("age_months").cast("int").alias("age_months"),
            "cohort_size",
            F.col("_mrev").cast("double").alias("month_revenue"),
            F.col("_cum").cast("double").alias("cum_revenue"),
            (F.col("_cum").cast("double") / F.col("cohort_size")).alias(
                "ltv"
            ),
        )
    )


CUSTOMER_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey AS u,
         year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         o_totalprice AS p
  FROM orders
), f AS (
  SELECT u, MIN(ym) AS cohort_ym FROM o GROUP BY u
), s AS (
  SELECT cohort_ym, COUNT(*) AS cohort_size FROM f GROUP BY cohort_ym
), r AS (
  SELECT f.cohort_ym, o.ym - f.cohort_ym AS age_months,
         SUM(CAST(p AS DECIMAL(18,2))) AS mrev
  FROM o JOIN f ON o.u = f.u
  GROUP BY 1, 2
), c AS (
  SELECT cohort_ym, age_months, mrev,
         SUM(mrev) OVER (PARTITION BY cohort_ym ORDER BY age_months
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM r
)
SELECT CAST(floor((c.cohort_ym - 1) / 12) AS INT) AS cohort_year,
       CAST((c.cohort_ym - 1) % 12 + 1 AS INT) AS cohort_month,
       CAST(c.age_months AS INT) AS age_months,
       s.cohort_size,
       CAST(c.mrev AS DOUBLE) AS month_revenue,
       CAST(c.cum AS DOUBLE) AS cum_revenue,
       CAST(c.cum AS DOUBLE) / s.cohort_size AS ltv
FROM c JOIN s ON c.cohort_ym = s.cohort_ym
"""


def nation_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration metrics per nation: Herfindahl–Hirschman index
    (Σ share²) and Gini coefficient of customer revenue — "is this
    nation's revenue spread across its customers or owned by a few
    whales". Every sum that crosses rows is EXACT decimal (rev, rev²,
    rank·rev — ranks tie-break on custkey so the sorted-formula Gini is
    deterministic); the handful of divisions happen once, in double, at
    the end, replayed in the identical order by the oracle.

    Scale shape: orders pre-aggregates to one row per customer BEFORE
    joining the customer dim (map-side combine on o_custkey), the nation
    attach is a broadcast, and the rank window partitions by nation — 25
    independent sorts of per-customer rollups, never raw orders.
    """
    dec = "decimal(18,2)"
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    cr = orders.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum(F.col("o_totalprice").cast(dec)).alias("rev")
    )
    cn = (
        cr.join(cust, cr["u"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select("n_name", "u", "rev")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.col("rev").asc(), F.col("u").asc()
                )
            ),
        )
    )
    agg = cn.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("_tot"),
        F.sum(F.col("rev") * F.col("rev")).alias("_ss"),
        F.sum(F.col("rk") * F.col("rev")).alias("_srx"),
    )
    tot_d = F.col("_tot").cast("double")
    n = F.col("n_customers")
    return agg.select(
        "n_name",
        "n_customers",
        tot_d.alias("revenue"),
        (F.col("_ss").cast("double") / (tot_d * tot_d)).alias("hhi"),
        (
            (F.lit(2.0) * F.col("_srx").cast("double")) / (n * tot_d)
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


NATION_REVENUE_CONCENTRATION_SQL = """
WITH cr AS (
  SELECT o_custkey AS u, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY u
), cn AS (
  SELECT n_name, cr.u, cr.rev,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY cr.rev, cr.u) AS rk
  FROM cr JOIN customer ON cr.u = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) AS revenue,
       CAST(SUM(rev * rev) AS DOUBLE)
         / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)) AS hhi,
       (2.0 * CAST(SUM(rk * rev) AS DOUBLE))
         / (COUNT(*) * CAST(SUM(rev) AS DOUBLE))
         - (COUNT(*) + 1.0) / COUNT(*) AS gini
FROM cn GROUP BY n_name
"""


def trade_network_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled harmonic centrality over the persisted trade edge
    state (operators/graphstate.harmonic_closeness_from_state): one
    labeled multi-source BFS from a FIXED-SIZE deterministic pivot
    sample — the 16 suppliers with the smallest md5(suppkey), i.e. a
    uniform hash sample whose size does NOT grow with the graph
    (Eppstein–Wang: estimator error depends on k alone, so k is a
    precision knob, not a function of |V|; a %-of-keys sample made this
    query's labeled frontier k·|V| with k ∝ |V| — quadratic). Each node
    scores Σ 1/d over pivots within 4 hops; the reciprocal sum is exact
    (lcm-scaled integers, one final division), so sampling, distances,
    and scores all replay as a bounded-depth recursive CTE oracle."""
    from rust_cdc_validator_spark.operators.graphstate import (
        harmonic_closeness_from_state,
    )

    sup = _t(spark, sf_dir, "supplier")
    pivots = (
        sup.select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
        .orderBy(F.md5(F.col("node")))
        .limit(16)
    )
    return harmonic_closeness_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), pivots, max_hops=4
    )


def trade_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled betweenness centrality over the persisted trade
    edge state (operators/graphstate.betweenness_from_state): Brandes'
    forward sigma pass + backward dependency accumulation from a fixed
    16-CUSTOMER md5 pivot sample at horizon 2 — on the bipartite trade
    graph the c→s→c walk makes SUPPLIERS the interior nodes, so the
    scores answer "which suppliers broker the most customer↔customer
    shortest paths", the brokerage complement to closeness's
    reachability score. (Supplier pivots at horizon 3 answer the same
    question ~5× more expensively: the third frontier expands the
    near-complete customer layer — measured 9.9 s vs 2.1 s solo at
    sf0.1 — while k and the horizon, not |V|, set the estimator error.)
    Path counts (sigma) are exact longs; only the final dependency
    divisions are floating point, so the golden pin rounds at 4dp.
    No SQL oracle: Brandes needs shortest-path COUNTS, which set-
    semantics recursive CTEs cannot carry (UNION dedups the walks,
    UNION ALL enumerates them combinatorially) — pinned against a
    sequential Brandes reference in tests/test_graphstate.py instead."""
    from rust_cdc_validator_spark.operators.graphstate import (
        betweenness_from_state,
    )

    cust = _t(spark, sf_dir, "customer")
    pivots = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
        .orderBy(F.md5(F.col("node")))
        .limit(16)
    )
    bc = betweenness_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), pivots, max_hops=2
    )
    return bc.select(
        "node", F.round("betweenness", 4).alias("betweenness_r"), "n_pivots"
    ).orderBy(F.col("betweenness_r").desc(), "node").limit(100)


TRADE_NETWORK_CLOSENESS_SQL = """
WITH RECURSIVE
pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e AS (SELECT a AS s, b AS d FROM pair UNION ALL SELECT b AS s, a AS d FROM pair),
seeds AS (
  SELECT 's' || CAST(s_suppkey AS VARCHAR) AS pv
  FROM supplier
  ORDER BY md5('s' || CAST(s_suppkey AS VARCHAR))
  LIMIT 16
),
walk(pv, node, h) AS (
  SELECT pv, pv, 0 FROM seeds
  UNION
  SELECT w.pv, e.d, w.h + 1 FROM walk w JOIN e ON e.s = w.node
  WHERE w.h < 4
),
d AS (
  SELECT pv, node, MIN(h) AS dist FROM walk GROUP BY pv, node
)
SELECT node,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(CAST(12 / dist AS BIGINT)) AS DOUBLE) / 12.0 AS harmonic
FROM d WHERE dist > 0
GROUP BY node
"""


def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control line over the hourly mean event value
    (operators/timeseries.ewma_smooth): exponential-decay smoothing as a
    fixed 8-term LAG fan (α = 0.3), plus the one-step-ahead forecast
    deviation the EWMA chart alarms on. Complements the uniform-window
    rolling features and the seasonal-residual screen with recency-
    weighted smoothing; every weight is an exact double power and the
    term additions evaluate in fixed order, so the oracle replays the
    identical nested sum."""
    from rust_cdc_validator_spark.operators.timeseries import ewma_smooth

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    return ewma_smooth(hourly, "hour_bucket", "mean_value", alpha=0.3, terms=8)


def _ewma_oracle_sql(alpha: float = 0.3, terms: int = 8) -> str:
    """The oracle twin of ewma_smooth's fixed-order nested sums: weight
    literals are repr() of the same Python doubles Spark embeds via
    F.lit, and the additions chain left-associatively in the same
    ascending-lag order."""

    def weighted(start: int) -> tuple[str, str]:
        num, den = "0.0", "0.0"
        for i in range(start, terms + start):
            wt = repr((1.0 - alpha) ** (i - start))
            lagged = f"lag(x, {i}) OVER w" if i else "x"
            num += f" + (CASE WHEN {lagged} IS NOT NULL THEN {wt} * ({lagged}) ELSE 0.0 END)"
            den += f" + (CASE WHEN {lagged} IS NOT NULL THEN {wt} ELSE 0.0 END)"
        return num, den

    num0, den0 = weighted(0)
    num1, den1 = weighted(1)
    return f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS t,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1
)
SELECT t AS tick, x AS value,
       ({num0}) / ({den0}) AS ewma,
       CASE WHEN ({den1}) > 0 THEN x - ({num1}) / ({den1}) END AS deviation
FROM hourly
WINDOW w AS (ORDER BY t)
"""


EVENTS_VALUE_EWMA_SQL = _ewma_oracle_sql()


def orders_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fact reconciliation — the reference's validation
    mission (row counts + value diffs between two copies) applied to a
    DERIVABLE invariant: per order, o_totalprice vs the recomputed
    Σ extendedprice·(1−discount)·(1+tax) over its lineitems, reported
    per order status as consistent / inconsistent / missing-lineitems
    counts with the worst absolute gap. Every per-row product is double
    (IEEE-identical in both engines), every cross-row sum and the diff
    comparison are exact DECIMAL, and the ±0.01 tolerance compares in
    decimal too — no float threshold flicker.

    Scale shape: lineitem pre-aggregates to order grain FIRST (map-side
    combine on l_orderkey), then ONE co-partitioned join on the order
    key — the canonical sort-merge shape for fact-to-fact
    reconciliation at 100 TB — and the status rollup is a tiny final
    agg. Nothing wider than (orderkey, decimal, count) shuffles.
    """
    dec = "decimal(24,8)"
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    roll = li.groupBy("l_orderkey").agg(
        F.sum(charge.cast(dec)).alias("_recomputed"),
        F.count(F.lit(1)).alias("_n_lines"),
    )
    diff = F.col("o_totalprice").cast("decimal(18,2)") - F.col("_recomputed")
    tol = F.lit("0.01").cast(dec)
    j = orders.join(
        roll, orders["o_orderkey"] == roll["l_orderkey"], "left"
    ).select(
        "o_orderstatus",
        F.col("o_totalprice").alias("_tp"),
        "_recomputed",
        diff.alias("_diff"),
        (F.abs(diff) <= tol).alias("_ok"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("_recomputed").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_missing_lineitems"),
        F.sum(F.when(F.col("_ok"), 1).otherwise(0)).cast("long").alias(
            "n_consistent"
        ),
        F.sum(
            F.when(
                F.col("_recomputed").isNotNull() & ~F.col("_ok"), 1
            ).otherwise(0)
        ).cast("long").alias("n_inconsistent"),
        F.max(F.abs(F.col("_diff"))).cast("double").alias("max_abs_diff"),
        _dsum(F.col("_tp")).alias("sum_totalprice"),
        F.sum("_recomputed").cast("double").alias("sum_recomputed"),
    )


ORDERS_LINEITEM_RECONCILIATION_SQL = """
WITH roll AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                  AS DECIMAL(24,8))) AS recomputed
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o_orderstatus, o_totalprice AS tp, recomputed,
         CAST(o_totalprice AS DECIMAL(18,2)) - recomputed AS diff,
         (abs(CAST(o_totalprice AS DECIMAL(18,2)) - recomputed)
            <= CAST(0.01 AS DECIMAL(24,8))) AS ok
  FROM orders LEFT JOIN roll ON o_orderkey = l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_lineitems,
       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
       CAST(SUM(CASE WHEN recomputed IS NOT NULL AND NOT ok
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inconsistent,
       CAST(MAX(abs(diff)) AS DOUBLE) AS max_abs_diff,
       CAST(SUM(CAST(tp AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
       CAST(SUM(recomputed) AS DOUBLE) AS sum_recomputed
FROM j GROUP BY o_orderstatus
"""


def audio_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing with a FULL value oracle: per document, a
    deterministic 8-bit PCM WAV is synthesized (sample k_i =
    (doc_id·31 + i) mod 256, n = 64 + doc_id mod 64 frames @ 8 kHz),
    pushed through the REAL RIFF container walk + PCM normalization
    (operators/multimodal.decode_wav_pcm via audio_stats), and the
    decoded RMS / peak / zero-crossing-rate / duration come back out.
    The sample values are dyadic rationals ((k−128)/128 — denominator a
    power of two), so every sum of squares is EXACT in double under any
    accumulation order and the SQL oracle replays the whole decode
    analytically — a binary codec path held to value-hash correctness,
    not just row counts.

    Scale shape: one Arrow-batched mapInPandas to synthesize, one to
    decode (payload bytes never leave the executor), no shuffles at all
    — embarrassingly parallel per document, the exact shape a real
    100 TB audio feature pass has."""
    from rust_cdc_validator_spark.operators.multimodal import audio_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import struct

        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 64 + d % 64
                raw = ((d * 31 + np.arange(n)) % 256).astype("uint8").tobytes()
                fmt_body = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
                chunks = (
                    b"fmt " + struct.pack("<I", 16) + fmt_body
                    + b"data" + struct.pack("<I", len(raw)) + raw
                )
                payloads.append(
                    b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return audio_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_frames",
        "duration_ms",
        "rms",
        "peak",
        "zero_crossing_rate",
    )


AUDIO_CORPUS_STATS_SQL = """
WITH s AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents
), samp AS (
  SELECT s.doc_id, s.n, u.i,
         (((s.doc_id * 31 + u.i) % 256) - 128) / 128.0 AS v
  FROM s, LATERAL (SELECT unnest(generate_series(0, s.n - 1)) AS i) u
), lagged AS (
  SELECT doc_id, n, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM samp
)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(MAX(n) AS BIGINT) AS n_frames,
       1000.0 * MAX(n) / 8000 AS duration_ms,
       sqrt(SUM(v * v) / MAX(n)) AS rms,
       MAX(abs(v)) AS peak,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                     THEN 1 ELSE 0 END) AS DOUBLE) / (MAX(n) - 1)
         AS zero_crossing_rate
FROM lagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# r12 continuation: partial-image CDC, schema-evolution replay, attribution,
# jackknife CI, split-conformal intervals, oracled isotonic calibration
# --------------------------------------------------------------------------


def cdc_partial_image_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-image CDC net effect (operators/replay.net_effect_partial):
    updates carry ONLY the changed column (the other NULL = "unchanged"),
    deletes fence, a re-insert after a delete must NOT resurrect fenced
    column values. Synthesized from `orders` in five epochs: full LOAD;
    price-only updates (%7, +10); custkey-only updates (%11, → -1);
    deletes (%13); full-image revivals (%26, price 999). Keys divisible by
    both 7 and 26 (e.g. 182) prove the fence: their pre-delete +10 update
    is dead, the revival's 999 wins. The oracle derives the expected final
    table INDEPENDENTLY (semantic check, not a structural mirror)."""
    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    key = F.col("o_orderkey")
    null_cust = F.lit(None).cast("long").alias("o_custkey")
    null_price = F.lit(None).cast("double").alias("o_totalprice")
    load = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("I").alias("Op"), key.cast("long").alias("_seq"),
    )
    price_up = orders.filter(key % 7 == 0).select(
        "o_orderkey", null_cust,
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("U").alias("Op"), (stride + key).cast("long").alias("_seq"),
    )
    cust_up = orders.filter(key % 11 == 0).select(
        "o_orderkey", F.lit(-1).cast("long").alias("o_custkey"), null_price,
        F.lit("U").alias("Op"), (stride * 2 + key).cast("long").alias("_seq"),
    )
    deletes = orders.filter(key % 13 == 0).select(
        "o_orderkey", null_cust, null_price,
        F.lit("D").alias("Op"), (stride * 3 + key).cast("long").alias("_seq"),
    )
    revive = orders.filter(key % 26 == 0).select(
        "o_orderkey", "o_custkey", F.lit(999.0).alias("o_totalprice"),
        F.lit("I").alias("Op"), (stride * 4 + key).cast("long").alias("_seq"),
    )
    log = load.unionByName(price_up).unionByName(cust_up)
    log = log.unionByName(deletes).unionByName(revive)
    return net_effect_partial(log, ["o_orderkey"])


CDC_PARTIAL_IMAGE_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 26 = 0 THEN o_custkey
            WHEN o_orderkey % 11 = 0 THEN CAST(-1 AS BIGINT)
            ELSE o_custkey END AS o_custkey,
       CASE WHEN o_orderkey % 26 = 0 THEN 999.0
            WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE o_orderkey % 13 <> 0 OR o_orderkey % 26 = 0
"""


def cdc_schema_evolution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay across a mid-stream ALTER TABLE ADD COLUMN
    (operators/replay.union_evolving): epoch 1 is a narrow LOAD
    (o_orderkey, o_custkey), epoch 2's update files carry the added
    o_totalprice column for keys %3 = 0. unionByName(allowMissingColumns)
    aligns the epochs (missing column NULL) and one net_effect replay spans
    the ALTER — keys never updated post-ALTER keep a NULL o_totalprice.
    The reference would hard-fail here (its INSERT binds the first file's
    column list, postgres_operator_impl.rs:193-231). Semantic oracle."""
    orders = _t(spark, sf_dir, "orders")
    stride = F.lit(1 << 40)
    key = F.col("o_orderkey")
    epoch1 = orders.select(
        "o_orderkey", "o_custkey",
        F.lit("I").alias("Op"), key.cast("long").alias("_seq"),
    )
    epoch2 = orders.filter(key % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("U").alias("Op"), (stride + key).cast("long").alias("_seq"),
    )
    return net_effect(union_evolving([epoch1, epoch2]), ["o_orderkey"])


CDC_SCHEMA_EVOLUTION_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS o_totalprice
FROM orders
"""


def orders_price_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-group jackknife CI for mean(o_totalprice): 16 deterministic
    md5 buckets (engine-portable, partition-independent), leave-one-bucket-
    out means, jackknife SE = sqrt((B-1)/B · Σ(m_i − m̄)²), 95% normal CI.
    The whole estimator is ONE hash agg over orders + arithmetic over a
    16-row relation; every cross-row float sum goes through exact decimals
    (the per-bucket sums, Σm_i, and Σ(m_i − m̄)²), divisions happen once in
    double — the repo's portability contract."""
    from rust_cdc_validator_spark.operators.corpus import md5_bucket

    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy(
        md5_bucket(F.col("o_orderkey"), 16).alias("bucket")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s_i"),
        F.count(F.lit(1)).alias("n_i"),
    )
    tot = per.agg(
        F.sum("s_i").alias("s_tot"),
        F.sum("n_i").alias("n_tot"),
        F.count(F.lit(1)).alias("b"),
    )
    dec = "decimal(38,12)"
    m_i = (
        (F.col("s_tot") - F.col("s_i")).cast("double")
        / (F.col("n_tot") - F.col("n_i")).cast("double")
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        m_i.alias("m_i"), "s_tot", "n_tot", "b"
    )
    mbar_rel = loo.groupBy("s_tot", "n_tot", "b").agg(
        (F.sum(F.col("m_i").cast(dec)).cast("double") / F.col("b")).alias("mbar")
    )
    dev = F.col("m_i") - F.col("mbar")
    out = (
        loo.join(F.broadcast(mbar_rel), ["s_tot", "n_tot", "b"])
        .agg(
            F.max("n_tot").alias("n_orders"),
            F.max(F.col("s_tot").cast("double") / F.col("n_tot").cast("double"))
            .alias("_mean"),
            F.max("b").alias("_b"),
            F.sum((dev * dev).cast(dec)).cast("double").alias("_ss"),
        )
    )
    se = F.sqrt((F.col("_b") - 1.0) / F.col("_b") * F.col("_ss"))
    return out.select(
        "n_orders",
        F.round("_mean", 6).alias("mean_price"),
        F.round(se, 6).alias("jk_se"),
        F.round(F.col("_mean") - 1.959963984540054 * se, 6).alias("ci_lo"),
        F.round(F.col("_mean") + 1.959963984540054 * se, 6).alias("ci_hi"),
    )


ORDERS_PRICE_JACKKNIFE_SQL = """
WITH per AS (
  SELECT (strpos('0123456789abcdef',
                 substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % 16
           AS bucket,
         SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS s_i,
         COUNT(*) AS n_i
  FROM orders GROUP BY 1
), tot AS (
  SELECT SUM(s_i) AS s_tot, SUM(n_i) AS n_tot, COUNT(*) AS b FROM per
), loo AS (
  SELECT CAST(t.s_tot - p.s_i AS DOUBLE) / CAST(t.n_tot - p.n_i AS DOUBLE)
           AS m_i,
         t.s_tot, t.n_tot, t.b
  FROM per p CROSS JOIN tot t
), mb AS (
  SELECT s_tot, n_tot, b,
         CAST(SUM(CAST(m_i AS DECIMAL(38,12))) AS DOUBLE) / b AS mbar
  FROM loo GROUP BY s_tot, n_tot, b
), fin AS (
  SELECT MAX(l.n_tot) AS n_orders,
         MAX(CAST(l.s_tot AS DOUBLE) / CAST(l.n_tot AS DOUBLE)) AS mean_p,
         MAX(l.b) AS b,
         CAST(SUM(CAST((l.m_i - m.mbar) * (l.m_i - m.mbar)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ss
  FROM loo l JOIN mb m
    ON l.s_tot = m.s_tot AND l.n_tot = m.n_tot AND l.b = m.b
)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
       round(mean_p, 6) AS mean_price,
       round(sqrt((b - 1.0) / b * ss), 6) AS jk_se,
       round(mean_p - 1.959963984540054 * sqrt((b - 1.0) / b * ss), 6)
         AS ci_lo,
       round(mean_p + 1.959963984540054 * sqrt((b - 1.0) / b * ss), 6)
         AS ci_hi
FROM fin
"""


def events_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event_type (Vovk et al.;
    Lei et al. 2018): calibration = even event_ids, test = odd. Predictor =
    calibration mean value per type; nonconformity = |value − pred|; q̂ =
    the ⌈0.9·(n_cal+1)⌉-th smallest calibration residual (EXACT order
    statistic via a rank filter — no interpolation, so it replays
    bit-for-bit in SQL); report finite-sample test coverage of pred ± q̂
    per type.

    Scale shape: the per-type residual rank does NOT use a window
    partitioned by event_type (a handful of types = a skew cliff at
    100 TB); it is layout.prefix_sum's range-exchange rank over
    (type, resid, id) minus broadcast per-type offsets — the same
    machinery as docs_score_quantile_norm."""
    from rust_cdc_validator_spark.operators.layout import prefix_sum

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    cal = ev.filter(F.col("event_id") % 2 == 0)
    test = ev.filter(F.col("event_id") % 2 == 1)
    pred = cal.groupBy("event_type").agg(
        (_dsum(F.col("value")) / F.count(F.lit(1))).alias("pred"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    resid = cal.join(F.broadcast(pred), "event_type").select(
        "event_type", "event_id", "n_cal", "pred",
        F.abs(F.col("value") - F.col("pred")).alias("r"),
    )
    k = F.least(F.col("n_cal"), F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"))
    ranked = prefix_sum(
        resid.withColumn("_one", F.lit(1)),
        ["event_type", "r", "event_id"],
        "_one",
        out_col="_rank0",
    )
    w_t = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, -1
    )  # types-sized frame: bounded single-task window (offset relation)
    offsets = pred.select("event_type", "n_cal").withColumn(
        "_off", F.coalesce(F.sum("n_cal").over(w_t), F.lit(0))
    )
    qhat = (
        ranked.join(F.broadcast(offsets.select("event_type", "_off")), "event_type")
        .withColumn("rn", F.col("_rank0") + 1 - F.col("_off"))
        .filter(F.col("rn") == k)
        .select("event_type", "n_cal", "pred", F.col("r").alias("qhat"))
    )
    cov = (
        test.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "pred", "qhat")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("pred")) <= F.col("qhat"), 1)
                .otherwise(0)
            ).cast("long").alias("n_covered"),
        )
    )
    return cov.select(
        "event_type", "n_cal", "n_test",
        F.round("pred", 6).alias("pred_r"),
        F.round("qhat", 6).alias("qhat_r"),
        F.round(F.col("n_covered").cast("double") / F.col("n_test"), 6)
        .alias("coverage_r"),
    )


EVENTS_CONFORMAL_SQL = """
WITH cal AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
), pred AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS pred,
         CAST(COUNT(*) AS BIGINT) AS n_cal
  FROM cal GROUP BY event_type
), resid AS (
  SELECT c.event_type, p.n_cal, p.pred, abs(c.value - p.pred) AS r,
         ROW_NUMBER() OVER (PARTITION BY c.event_type
                            ORDER BY abs(c.value - p.pred), c.event_id) AS rn
  FROM cal c JOIN pred p ON c.event_type = p.event_type
), qh AS (
  SELECT event_type, n_cal, pred, r AS qhat FROM resid
  WHERE rn = LEAST(n_cal, CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT))
)
SELECT t.event_type, q.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
       round(q.pred, 6) AS pred_r,
       round(q.qhat, 6) AS qhat_r,
       round(CAST(SUM(CASE WHEN abs(t.value - q.pred) <= q.qhat
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS coverage_r
FROM (SELECT event_type, value FROM events WHERE event_id % 2 = 1) t
JOIN qh q ON t.event_type = q.event_type
GROUP BY t.event_type, q.n_cal, q.pred, q.qhat
"""


def events_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of P(purchase | value) over 25 fixed-width
    value bins, FULLY ORACLED via the minimax characterization of isotonic
    regression (Robertson/Wright/Dykstra 1988: fit_i = max_{j≤i} min_{k≥i}
    weightedMean(y, bins j..k)) — the closed form PAVA converges to,
    expressible as bounded joins over the 25-row bin relation in both
    engines (no sequential pool-merge loop, no driver collect, no global
    window). tests/test_calibration.py proves minimax == sequential PAVA
    on random inputs. Per-pair means divide once in double; min/max over
    doubles are exact comparisons — deterministic in both engines."""
    ev = _events(spark, sf_dir)
    b = F.least(F.lit(24), F.floor(F.col("value") / 20.0)).cast("int")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    bins = ev.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("long").alias("pos"),
    )
    jk = (
        bins.select(F.col("bin").alias("j"))
        .join(bins.select(F.col("bin").alias("k")), F.col("j") <= F.col("k"))
    )
    spans = (
        jk.join(
            bins.select(F.col("bin").alias("m"), "n", "pos"),
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            (F.sum("pos").cast("double") / F.sum("n").cast("double")).alias("mean_jk")
        )
    )
    inner = (
        spans.join(
            bins.select(F.col("bin").alias("i")),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("mean_jk").alias("min_k"))
    )
    fit = inner.groupBy("i").agg(F.max("min_k").alias("fit"))
    return (
        bins.join(fit, bins["bin"] == fit["i"])
        .select(
            "bin", "n", "pos",
            F.round(F.col("pos").cast("double") / F.col("n").cast("double"), 6)
            .alias("rate_r"),
            F.round("fit", 6).alias("fit_r"),
        )
        .orderBy("bin")
    )


EVENTS_ISOTONIC_SQL = """
WITH bins AS (
  SELECT CAST(LEAST(24, CAST(floor(value / 20.0) AS BIGINT)) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM events GROUP BY 1
), spans AS (
  SELECT j.bin AS j, k.bin AS k,
         CAST(SUM(m.pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS mean_jk
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
  GROUP BY j.bin, k.bin
), inner_min AS (
  SELECT i.bin AS i, s.j, MIN(s.mean_jk) AS min_k
  FROM spans s JOIN bins i ON s.j <= i.bin AND s.k >= i.bin
  GROUP BY i.bin, s.j
), fit AS (
  SELECT i, MAX(min_k) AS fit FROM inner_min GROUP BY i
)
SELECT b.bin, b.n, b.pos,
       round(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS rate_r,
       round(f.fit, 6) AS fit_r
FROM bins b JOIN fit f ON b.bin = f.i
ORDER BY b.bin
"""


def customer_reorder_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard of customer re-order gaps
    (operators/timeseries.nelson_aalen) over the same censored duration
    table as the KM query: H(t) = Σ d_i/n_i with the Σ d_i/n_i² variance
    and the Breslow survival exp(−H) — the additive companion the
    product-limit curve can't give you (hazard increments are what
    piecewise-exponential fits and rate comparisons consume)."""
    from rust_cdc_validator_spark.operators.timeseries import nelson_aalen

    orders = _t(spark, sf_dir, "orders")
    return nelson_aalen(orders, "o_custkey", "o_orderdate")


CUSTOMER_REORDER_HAZARD_SQL = """
WITH ev AS (
  SELECT o_custkey AS u, o_orderdate AS d FROM orders
), g AS (
  SELECT date_diff('day', lag(d) OVER (PARTITION BY u ORDER BY d), d) AS dur,
         1 AS ev
  FROM ev
), hz AS (
  SELECT MAX(d) AS h FROM ev
), cens AS (
  SELECT date_diff('day', MAX(d), (SELECT h FROM hz)) AS dur, 0 AS ev
  FROM ev GROUP BY u
), obs AS (
  SELECT dur, ev FROM g WHERE dur IS NOT NULL
  UNION ALL SELECT dur, ev FROM cens
), agg AS (
  SELECT dur,
         CAST(SUM(ev) AS BIGINT) AS n_events,
         CAST(SUM(1 - ev) AS BIGINT) AS n_censored
  FROM obs GROUP BY dur
), km AS (
  SELECT dur, n_events, n_censored,
         CAST(SUM(n_events + n_censored) OVER (
           ORDER BY dur ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS BIGINT) AS n_risk
  FROM agg
)
SELECT CAST(dur AS INT) AS t_days, n_risk, n_events, n_censored,
       round(SUM(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
               OVER pre, 6) AS cum_hazard,
       round(sqrt(SUM(CAST(n_events AS DOUBLE)
                      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
               OVER pre), 6) AS hazard_se,
       round(exp(-SUM(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
               OVER pre), 6) AS breslow_survival
FROM km
WINDOW pre AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def events_brown_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing + 3-step linear forecast over
    the hourly mean event value (operators/timeseries.brown_double_smooth):
    S'=EWMA(x), S''=EWMA(S'), level=2S'−S'', trend=α/(1−α)(S'−S'') — the
    trend-following extension of the EWMA control line. Both smoothing
    passes are the truncated fixed-order LAG fan, so the oracle replays
    the identical stacked nested sums (first fan in a CTE, second fan
    over its output)."""
    from rust_cdc_validator_spark.operators.timeseries import (
        brown_double_smooth,
    )

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    return brown_double_smooth(
        hourly, "hour_bucket", "mean_value", alpha=0.3, terms=8, horizon=3
    )


def _brown_oracle_sql(
    alpha: float = 0.3, terms: int = 8, horizon: int = 3
) -> str:
    """Oracle twin of brown_double_smooth: the same two stacked truncated
    LAG fans as _ewma_oracle_sql, weight literals repr()'d from the same
    Python doubles, additions chained in ascending-lag order."""

    def fan(col: str) -> tuple[str, str]:
        num, den = "0.0", "0.0"
        for i in range(terms):
            wt = repr((1.0 - alpha) ** i)
            lagged = f"lag({col}, {i}) OVER w" if i else col
            num += f" + (CASE WHEN {lagged} IS NOT NULL THEN {wt} * ({lagged}) ELSE 0.0 END)"
            den += f" + (CASE WHEN {lagged} IS NOT NULL THEN {wt} ELSE 0.0 END)"
        return num, den

    n1, d1 = fan("x")
    n2, d2 = fan("s1")
    tf = repr(alpha / (1.0 - alpha))
    h = repr(float(horizon))
    s2 = f"(({n2}) / ({d2}))"
    level = f"(2.0 * s1 - {s2})"
    trend = f"({tf} * (s1 - {s2}))"
    return f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS t,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1
), sm1 AS (
  SELECT t, x, ({n1}) / ({d1}) AS s1
  FROM hourly
  WINDOW w AS (ORDER BY t)
)
SELECT t AS tick, x AS value,
       round(s1, 6) AS s1_r,
       round({s2}, 6) AS s2_r,
       round({level}, 6) AS level_r,
       round({trend}, 6) AS trend_r,
       round({level} + {h} * {trend}, 6) AS forecast_r
FROM sm1
WINDOW w AS (ORDER BY t)
"""


EVENTS_BROWN_FORECAST_SQL = _brown_oracle_sql()


def docs_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a document score
    (length(text) here): each doc's within-source percentile is mapped
    onto the POOLED score distribution's same-percentile value — the
    batch-effect correction that makes per-source quality scores
    comparable before mixing (the genomics quantile-norm recipe applied
    to corpus curation). Output: per (source, decile-of-norm) counts and
    integer score sums — compact but sensitive to every mapped value.

    Spark shape: global ranks come from operators/layout.prefix_sum (range
    exchange + partition-local windows + broadcast offsets) — NOT a
    global single-task window and NOT per-source windows (a handful of
    sources would be a skew cliff at 100 TB); the pooled lookup is one
    equi-join on the target rank. Scores are integers, so every sum is
    exact — no float contract needed anywhere."""
    from rust_cdc_validator_spark.operators.layout import prefix_sum

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("score")
    )
    one = docs.withColumn("_one", F.lit(1))
    pooled = prefix_sum(one, ["score", "doc_id"], "_one", out_col="g_rank")
    bysrc = prefix_sum(
        one, ["source", "score", "doc_id"], "_one", out_col="_sg"
    )
    src_sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    w_src = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )  # sources-sized frame: bounded single-task window
    offsets = src_sizes.withColumn(
        "_off", F.coalesce(F.sum("n_src").over(w_src), F.lit(0))
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_all"))
    ranked = (
        bysrc.join(F.broadcast(offsets), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "source", "score", "n_src", "n_all",
            (F.col("_sg") - F.col("_off")).alias("r"),
        )
    )
    k = F.least(
        F.col("n_all"),
        F.greatest(
            F.lit(1),
            F.ceil(
                (F.col("r") + 0.5) / F.col("n_src") * F.col("n_all")
            ).cast("long"),
        ),
    )
    mapped = ranked.withColumn("k", k).join(
        pooled.select(F.col("g_rank"), F.col("score").alias("norm_score")),
        F.col("k") - 1 == F.col("g_rank"),
    )
    decile = F.expr("least(9, (k * 10 - 1) div n_all)").cast("int")
    return (
        mapped.groupBy("source", decile.alias("norm_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("sum_raw"),
            F.sum("norm_score").alias("sum_norm"),
        )
        .orderBy("source", "norm_decile")
    )


DOCS_SCORE_QUANTILE_NORM_SQL = """
WITH docs AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS score
  FROM documents
), pooled AS (
  SELECT score AS norm_score,
         ROW_NUMBER() OVER (ORDER BY score, doc_id) - 1 AS g_rank
  FROM docs
), ranked AS (
  SELECT d.doc_id, d.source, d.score,
         ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.score, d.doc_id)
           - 1 AS r,
         COUNT(*) OVER (PARTITION BY d.source) AS n_src,
         COUNT(*) OVER () AS n_all
  FROM docs d
), mapped AS (
  SELECT r.source, r.score,
         LEAST(r.n_all, GREATEST(1,
           CAST(ceil((r.r + 0.5) / r.n_src * r.n_all) AS BIGINT))) AS k,
         r.n_all
  FROM ranked r
)
SELECT m.source,
       CAST(LEAST(9, (m.k * 10 - 1) // m.n_all) AS INT) AS norm_decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(m.score) AS BIGINT) AS sum_raw,
       CAST(SUM(p.norm_score) AS BIGINT) AS sum_norm
FROM mapped m JOIN pooled p ON m.k - 1 = p.g_rank
GROUP BY m.source, CAST(LEAST(9, (m.k * 10 - 1) // m.n_all) AS INT)
ORDER BY source, norm_decile
"""


def events_ab_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full A/B readout with CUPED adjustment: deterministic md5 arms over
    user_id (0 = control, 1 = treatment), per-user pre/experiment spend
    split at the time-range midpoint, θ estimated on the POOLED data
    (unbiased under randomization), per-arm raw and adjusted means with
    two-sample z statistics — the experiment-platform decision query,
    showing the realized CI shrink next to the raw readout. All moments
    two-pass exact-decimal; divisions once in double."""
    from rust_cdc_validator_spark.operators.corpus import md5_bucket

    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min("ts_ns").alias("_mn"), F.max("ts_ns").alias("_mx")
    ).select((F.col("_mn") + F.expr("(_mx - _mn) div 2")).alias("_mid"))
    dec2 = "decimal(18,2)"
    dec = "decimal(38,12)"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("ts_ns") <= F.col("_mid"), F.col("value").cast(dec2))
                ).cast("double"),
                F.lit(0.0),
            ).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.col("ts_ns") > F.col("_mid"), F.col("value").cast(dec2))
                ).cast("double"),
                F.lit(0.0),
            ).alias("y"),
        )
        .withColumn("arm", md5_bucket(F.col("user_id"), 2))
    )
    means = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum(F.col("y").cast(dec)).cast("double") / F.count(F.lit(1))).alias("my"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    theta_rel = per_user.crossJoin(F.broadcast(means)).agg(
        F.max("mx").alias("mx"),
        (
            F.sum((dx * dy).cast(dec)).cast("double")
            / F.sum((dx * dx).cast(dec)).cast("double")
        ).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(theta_rel)).select(
        "arm", "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))).alias("yadj"),
        "theta",
    )
    arm_means = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        (F.sum(F.col("y").cast(dec)).cast("double") / F.count(F.lit(1))).alias("m_y"),
        (F.sum(F.col("yadj").cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "m_adj"
        ),
    )
    devy = F.col("y") - F.col("m_y")
    deva = F.col("yadj") - F.col("m_adj")
    arm_stats = (
        adj.join(F.broadcast(arm_means), "arm")
        .groupBy("arm")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("m_y").alias("m_y"),
            F.max("m_adj").alias("m_adj"),
            (
                F.sum((devy * devy).cast(dec)).cast("double")
                / (F.max("n_a") - 1).cast("double")
            ).alias("v_y"),
            (
                F.sum((deva * deva).cast(dec)).cast("double")
                / (F.max("n_a") - 1).cast("double")
            ).alias("v_adj"),
        )
    )
    c = lambda col: F.max(F.when(F.col("arm") == 0, F.col(col)))  # noqa: E731
    t = lambda col: F.max(F.when(F.col("arm") == 1, F.col(col)))  # noqa: E731
    fused = arm_stats.agg(
        c("n_a").alias("n_control"),
        t("n_a").alias("n_treatment"),
        c("m_y").alias("mc_y"), t("m_y").alias("mt_y"),
        c("m_adj").alias("mc_adj"), t("m_adj").alias("mt_adj"),
        c("v_y").alias("vc_y"), t("v_y").alias("vt_y"),
        c("v_adj").alias("vc_adj"), t("v_adj").alias("vt_adj"),
    )
    se_raw = F.sqrt(
        F.col("vt_y") / F.col("n_treatment") + F.col("vc_y") / F.col("n_control")
    )
    se_adj = F.sqrt(
        F.col("vt_adj") / F.col("n_treatment") + F.col("vc_adj") / F.col("n_control")
    )
    return fused.select(
        "n_control", "n_treatment",
        F.round(F.col("mt_y") - F.col("mc_y"), 6).alias("diff_raw_r"),
        F.round((F.col("mt_y") - F.col("mc_y")) / se_raw, 6).alias("z_raw_r"),
        F.round(F.col("mt_adj") - F.col("mc_adj"), 6).alias("diff_adj_r"),
        F.round((F.col("mt_adj") - F.col("mc_adj")) / se_adj, 6).alias("z_adj_r"),
        F.round(se_adj / se_raw, 6).alias("se_ratio_r"),
    )


EVENTS_AB_CUPED_SQL = """
WITH bounds AS (
  SELECT MIN(epoch_ns(ts)) + (MAX(epoch_ns(ts)) - MIN(epoch_ns(ts))) // 2
           AS mid
  FROM events
), per_user AS (
  SELECT user_id,
         COALESCE(CAST(SUM(CASE WHEN epoch_ns(ts) <= b.mid
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
           AS x,
         COALESCE(CAST(SUM(CASE WHEN epoch_ns(ts) > b.mid
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
           AS y,
         (strpos('0123456789abcdef',
                 substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
           AS arm
  FROM events CROSS JOIN bounds b
  GROUP BY user_id
), means AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS my
  FROM per_user
), th AS (
  SELECT MAX(m.mx) AS mx,
         CAST(SUM(CAST((p.x - m.mx) * (p.y - m.my) AS DECIMAL(38,12)))
              AS DOUBLE)
         / CAST(SUM(CAST((p.x - m.mx) * (p.x - m.mx) AS DECIMAL(38,12)))
              AS DOUBLE) AS theta
  FROM per_user p CROSS JOIN means m
), adj AS (
  SELECT p.arm, p.y, p.y - t.theta * (p.x - t.mx) AS yadj
  FROM per_user p CROSS JOIN th t
), arm_means AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m_y,
         CAST(SUM(CAST(yadj AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m_adj
  FROM adj GROUP BY arm
), arm_stats AS (
  SELECT a.arm, MAX(m.n_a) AS n_a, MAX(m.m_y) AS m_y, MAX(m.m_adj) AS m_adj,
         CAST(SUM(CAST((a.y - m.m_y) * (a.y - m.m_y) AS DECIMAL(38,12)))
              AS DOUBLE) / CAST(MAX(m.n_a) - 1 AS DOUBLE) AS v_y,
         CAST(SUM(CAST((a.yadj - m.m_adj) * (a.yadj - m.m_adj)
              AS DECIMAL(38,12)))
              AS DOUBLE) / CAST(MAX(m.n_a) - 1 AS DOUBLE) AS v_adj
  FROM adj a JOIN arm_means m ON a.arm = m.arm
  GROUP BY a.arm
), fused AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n_a END) AS n_control,
         MAX(CASE WHEN arm = 1 THEN n_a END) AS n_treatment,
         MAX(CASE WHEN arm = 0 THEN m_y END) AS mc_y,
         MAX(CASE WHEN arm = 1 THEN m_y END) AS mt_y,
         MAX(CASE WHEN arm = 0 THEN m_adj END) AS mc_adj,
         MAX(CASE WHEN arm = 1 THEN m_adj END) AS mt_adj,
         MAX(CASE WHEN arm = 0 THEN v_y END) AS vc_y,
         MAX(CASE WHEN arm = 1 THEN v_y END) AS vt_y,
         MAX(CASE WHEN arm = 0 THEN v_adj END) AS vc_adj,
         MAX(CASE WHEN arm = 1 THEN v_adj END) AS vt_adj
  FROM arm_stats
)
SELECT n_control, n_treatment,
       round(mt_y - mc_y, 6) AS diff_raw_r,
       round((mt_y - mc_y)
             / sqrt(vt_y / n_treatment + vc_y / n_control), 6) AS z_raw_r,
       round(mt_adj - mc_adj, 6) AS diff_adj_r,
       round((mt_adj - mc_adj)
             / sqrt(vt_adj / n_treatment + vc_adj / n_control), 6)
         AS z_adj_r,
       round(sqrt(vt_adj / n_treatment + vc_adj / n_control)
             / sqrt(vt_y / n_treatment + vc_y / n_control), 6) AS se_ratio_r
FROM fused
"""


def orders_price_robust_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates for o_totalprice: 5%-trimmed mean (drop
    both tails by EXACT rank) and winsorized mean (clamp tails to the
    p05/p95 order statistics) next to the raw mean — the outlier-resistant
    aggregates a monitoring pipeline wants when heavy tails make the mean
    jumpy. Cut ranks are INTEGER arithmetic (k = N·5 div 100) and the
    boundary values exact order statistics, so the whole estimator
    replays bit-for-bit; sums are exact decimals.

    Spark shape: global ranks via layout.prefix_sum (range exchange +
    broadcast offsets — no single-task row-scaled window); boundary
    lookups are two 1-row filters broadcast back."""
    from rust_cdc_validator_spark.operators.layout import prefix_sum

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("v")
    )
    ranked = prefix_sum(
        orders.withColumn("_one", F.lit(1)),
        ["v", "o_orderkey"],
        "_one",
        out_col="r",
    )
    tot = orders.agg(F.count(F.lit(1)).alias("n_all"))
    rk = ranked.crossJoin(F.broadcast(tot))
    k = F.expr("(n_all * 5) div 100")
    bounds = rk.filter(
        (F.col("r") == k) | (F.col("r") == F.col("n_all") - k - 1)
    ).agg(
        F.min("v").alias("p05"),
        F.max("v").alias("p95"),
    )
    dec2 = "decimal(18,2)"
    out = rk.crossJoin(F.broadcast(bounds)).agg(
        F.max("n_all").alias("n_orders"),
        (F.sum(F.col("v").cast(dec2)).cast("double") / F.count(F.lit(1))).alias(
            "_mean"
        ),
        (
            F.sum(
                F.when(
                    (F.col("r") >= k) & (F.col("r") < F.col("n_all") - k),
                    F.col("v").cast(dec2),
                )
            ).cast("double")
            / F.sum(
                F.when(
                    (F.col("r") >= k) & (F.col("r") < F.col("n_all") - k), 1
                )
            ).cast("double")
        ).alias("_trimmed"),
        (
            F.sum(
                F.greatest(
                    F.col("p05"), F.least(F.col("p95"), F.col("v"))
                ).cast(dec2)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("_winsor"),
        F.max("p05").alias("_p05"),
        F.max("p95").alias("_p95"),
    )
    return out.select(
        "n_orders",
        F.round("_mean", 6).alias("mean_r"),
        F.round("_trimmed", 6).alias("trimmed_mean_r"),
        F.round("_winsor", 6).alias("winsorized_mean_r"),
        F.round("_p05", 2).alias("p05_r"),
        F.round("_p95", 2).alias("p95_r"),
    )


ORDERS_PRICE_ROBUST_MEAN_SQL = """
WITH ranked AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS r,
         COUNT(*) OVER () AS n_all
  FROM orders
), bounds AS (
  SELECT MIN(v) AS p05, MAX(v) AS p95
  FROM ranked
  WHERE r = (n_all * 5) // 100 OR r = n_all - (n_all * 5) // 100 - 1
)
SELECT CAST(MAX(n_all) AS BIGINT) AS n_orders,
       round(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
         AS mean_r,
       round(CAST(SUM(CASE WHEN r >= (n_all * 5) // 100
                            AND r < n_all - (n_all * 5) // 100
                           THEN CAST(v AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CASE WHEN r >= (n_all * 5) // 100
                              AND r < n_all - (n_all * 5) // 100
                             THEN 1 END) AS DOUBLE), 6) AS trimmed_mean_r,
       round(CAST(SUM(CAST(GREATEST(b.p05, LEAST(b.p95, v))
                           AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
         AS winsorized_mean_r,
       round(MAX(b.p05), 2) AS p05_r,
       round(MAX(b.p95), 2) AS p95_r
FROM ranked CROSS JOIN bounds b
"""


def supplier_trade_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity-optimizing communities (operators/graph.
    louvain_communities — Louvain's local-moving phase, Blondel et al.
    2008) on the customer↔supplier trade graph, next to the
    majority-vote LPA of supplier_trade_communities: each node joins the
    neighboring community with the largest modularity gain, synchronous
    sweeps parity-gated on the engine-portable md5 digit so the whole
    iterative optimizer — gains, strict-improvement tie rule, parity
    blend — replays in GENERATED unrolled SQL and value-hashes, the
    supplier_pagerank discipline applied to community OPTIMIZATION.
    Reads the persisted trade edge state; the oracle rebuilds from raw
    facts. Trade weights are integer counts, so every cross-row double
    sum (k_{u,C}, Σtot, 2m) is exact and order-free."""
    from rust_cdc_validator_spark.operators.graphstate import (
        louvain_from_state,
    )

    comms = louvain_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), sweeps=4
    )
    return comms.filter(F.col("node").startswith("s")).select(
        F.col("node").substr(F.lit(2), F.lit(30)).cast("long").alias("suppkey"),
        F.col("comm").alias("community"),
    )


def _louvain_oracle_sql(sweeps: int = 4) -> str:
    """Unrolled Louvain local-moving CTE chain mirroring
    graph._louvain_loop sweep for sweep: Σtot aggregation, stay-zero
    unioned k_{u,C}, the same score expression tree (so double
    arithmetic is bit-identical), DESC-score/DESC-stay/ASC-community
    argmax, and the md5-parity move gate — generated so the sweep count
    lives in one place."""
    ctes = [
        """pair AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
         's' || CAST(l.l_suppkey AS VARCHAR) AS b,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)""",
        """adj AS (
  SELECT a AS src, b AS dst, w FROM pair
  UNION ALL
  SELECT b AS src, a AS dst, w FROM pair
)""",
        "kdeg AS (SELECT src AS node, SUM(w) AS k FROM adj GROUP BY src)",
        "tm AS (SELECT SUM(k) AS twom FROM kdeg)",
        "c0 AS (SELECT node, node AS comm FROM kdeg)",
    ]
    for s in range(sweeps):
        ctes.append(
            f"""sig{s} AS (
  SELECT c.comm, SUM(k.k) AS sig
  FROM c{s} c JOIN kdeg k ON c.node = k.node GROUP BY c.comm
)"""
        )
        ctes.append(
            f"""kuc{s} AS (
  SELECT u.src, u.nc, SUM(u.w) AS kuc FROM (
    SELECT adj.src, c.comm AS nc, adj.w
    FROM adj JOIN c{s} c ON adj.dst = c.node
    UNION ALL
    SELECT node AS src, comm AS nc, 0.0 AS w FROM c{s}
  ) u GROUP BY u.src, u.nc
)"""
        )
        ctes.append(
            f"""win{s} AS (
  SELECT src, nc, d,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY score DESC, stay DESC, nc ASC) AS rn
  FROM (
    SELECT kuc.src, kuc.nc, me.comm AS d,
           CASE WHEN kuc.nc = me.comm
                THEN kuc.kuc - kd.k * (sg.sig - kd.k) / tm.twom
                ELSE kuc.kuc - kd.k * sg.sig / tm.twom END AS score,
           CASE WHEN kuc.nc = me.comm THEN 1 ELSE 0 END AS stay
    FROM kuc{s} kuc
    JOIN c{s} me ON kuc.src = me.node
    JOIN kdeg kd ON kuc.src = kd.node
    JOIN sig{s} sg ON kuc.nc = sg.comm
    CROSS JOIN tm
  ) t
)"""
        )
        ctes.append(
            f"""c{s + 1} AS (
  SELECT src AS node,
         CASE WHEN (strpos('0123456789abcdef',
                           substring(md5(src), 1, 1)) - 1) % 2 = {s % 2}
              THEN nc ELSE d END AS comm
  FROM win{s} WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(substring(node, 2) AS BIGINT) AS suppkey, comm AS community
FROM c{sweeps} WHERE node LIKE 's%'"""
    )


SUPPLIER_TRADE_LOUVAIN_SQL = _louvain_oracle_sql()


def orders_price_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum drift (operators/drift.mann_whitney_u)
    between early-era (< 1998) and late-era order prices — the same
    sides as orders_price_ks_drift, asking the stochastic-dominance
    question instead of the max-CDF-gap one. Tie-corrected normal
    approximation with the p-value computed through the Abramowitz &
    Stegun 26.2.17 polynomial, so the oracle replays z AND p bit-for-bit
    (no erf dependency). Rank sums ride the same two-phase prefix scan
    as KS; midrank arithmetic stays exact in DECIMAL(38,0)."""
    from rust_cdc_validator_spark.operators.drift import mann_whitney_u

    orders = _t(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    late = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select(
        "o_totalprice"
    )
    return mann_whitney_u(early, late, "o_totalprice")


from rust_cdc_validator_spark.operators.drift import NORM_SF_SQL as _SF


ORDERS_PRICE_MANNWHITNEY_SQL = f"""
WITH pooled AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ca,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END AS cb
  FROM orders WHERE o_totalprice IS NOT NULL
), cells AS (
  SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM pooled GROUP BY v
), c AS (
  SELECT v, na, nb,
         COALESCE(SUM(na) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cna,
         COALESCE(SUM(nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
  FROM cells
), s AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
         SUM(CAST(na AS DECIMAL(38,0))
             * (2 * CAST(cna + cnb AS DECIMAL(38,0))
                + CAST(na + nb AS DECIMAL(38,0)) + 1)) AS r2a,
         SUM(CAST(na + nb AS DECIMAL(38,0)) * CAST(na + nb AS DECIMAL(38,0))
             * CAST(na + nb AS DECIMAL(38,0))
             - CAST(na + nb AS DECIMAL(38,0))) AS ties
  FROM c
), m AS (
  SELECT n_a, n_b,
         CAST(r2a - CAST(n_a AS DECIMAL(38,0))
                    * (CAST(n_a AS DECIMAL(38,0)) + 1) AS DOUBLE)
           / 2.0 AS u,
         CAST(n_a AS DOUBLE) * n_b / 2.0 AS mu,
         CAST(n_a + n_b AS DOUBLE) AS nd,
         CAST(ties AS DOUBLE) AS tie_sum
  FROM s
), zc AS (
  SELECT n_a, n_b, u,
         (u - mu) / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                         * ((nd + 1.0) - tie_sum / (nd * (nd - 1.0)))) AS z
  FROM m
)
SELECT n_a, n_b, round(u, 2) AS u_a, round(z, 6) AS z,
       round(2.0 * {_SF.format(z='abs(z)')}, 6) AS p_two,
       round(1.0 - 2.0 * u / (CAST(n_a AS DOUBLE) * n_b), 6)
         AS rank_biserial
FROM zc
"""


def nation_segment_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation two-proportion z-tests with Benjamini–Hochberg FDR
    control (operators/drift.two_proportion_ztests + bh_fdr): for each
    nation, is its customers' BUILDING-segment share different from the
    rest of the world's, and which nations survive multiple-comparison
    control at q = 0.10? 25 simultaneous tests is exactly where raw
    p < 0.05 readouts overcall — this is the screening pattern every
    per-segment drift monitor needs. One hash agg to a nations-sized
    relation; the BH rank window runs on that bounded relation (the
    documented exception class), never the rows."""
    from rust_cdc_validator_spark.operators.drift import (
        bh_fdr,
        two_proportion_ztests,
    )

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select("n_name", "c_mktsegment")
    rep = two_proportion_ztests(
        joined, "n_name", F.col("c_mktsegment") == F.lit("BUILDING")
    )
    out = bh_fdr(rep, "p_two", ["group_key"], q=0.10)
    return out.select(
        F.col("group_key").alias("nation"),
        "n",
        "successes",
        "share",
        "z",
        "p_two",
        F.col("p_rank").cast("long").alias("p_rank"),
        "bh_critical",
        "rejected",
        F.col("cutoff_rank").cast("long").alias("cutoff_rank"),
    ).orderBy("nation")


NATION_SEGMENT_FDR_SQL = f"""
WITH j AS (
  SELECT n.n_name, c.c_mktsegment
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), per AS (
  SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS successes
  FROM j GROUP BY n_name
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(successes) AS BIGINT) AS ts
  FROM per
), zt AS (
  SELECT nation, n, successes,
         round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
         round(CASE WHEN CAST(tn - n AS DOUBLE) > 0 THEN
           CAST(ts - successes AS DOUBLE) / CAST(tn - n AS DOUBLE)
         END, 6) AS rest_share,
         CASE WHEN CAST(tn - n AS DOUBLE) > 0
               AND CAST(ts AS DOUBLE) / tn > 0
               AND CAST(ts AS DOUBLE) / tn < 1 THEN
           (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(ts - successes AS DOUBLE) / CAST(tn - n AS DOUBLE))
           / sqrt((CAST(ts AS DOUBLE) / tn)
                  * (1.0 - CAST(ts AS DOUBLE) / tn)
                  * (1.0 / CAST(n AS DOUBLE)
                     + 1.0 / CAST(tn - n AS DOUBLE)))
         END AS z_raw
  FROM per CROSS JOIN tot
), pz AS (
  SELECT nation, n, successes, share, rest_share,
         round(z_raw, 6) AS z,
         round(2.0 * {_SF.format(z='abs(z_raw)')}, 6) AS p_two
  FROM zt
), ranked AS (
  SELECT *, CAST(row_number() OVER (
              ORDER BY p_two ASC NULLS LAST, nation) AS BIGINT) AS p_rank
  FROM pz
), crit AS (
  SELECT *, round(p_rank * CAST(0.1 AS DOUBLE)
                  / (SELECT CAST(COUNT(*) AS DOUBLE)
                     FROM ranked), 6) AS bh_critical
  FROM ranked
), cut AS (
  SELECT MAX(p_rank) AS cutoff_rank FROM crit
  WHERE p_two IS NOT NULL AND p_two <= bh_critical
)
SELECT nation, n, successes, share, z, p_two, p_rank, bh_critical,
       (p_two IS NOT NULL AND p_rank <= COALESCE(cutoff_rank, 0))
         AS rejected,
       cutoff_rank
FROM crit CROSS JOIN cut
ORDER BY nation
"""


def events_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM control chart (operators/timeseries.cusum_chart)
    over the hourly mean event value — the sustained-shift detector next
    to the EWMA line (k = 0.5, h = 4 in σ units, the classic tuning for
    ~1σ drifts). The recursion never runs: S⁺/S⁻ come from the prefix
    identity (cumulative sum + running min, two stacked tick windows),
    and every window accumulates half-up-scaled integer micro-units in
    DECIMAL(38,0), so the oracle replays bit-for-bit whatever either
    engine's windowed-sum association order is."""
    from rust_cdc_validator_spark.operators.timeseries import cusum_chart

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hour_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    return cusum_chart(hourly, "hour_bucket", "mean_value", k=0.5, h=4.0)


EVENTS_VALUE_CUSUM_SQL = f"""
WITH hourly AS (
  SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS tick,
         round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS value
  FROM events GROUP BY 1
), p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(floor(value * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS sx,
         SUM(CAST(floor(value * 1000000.0 + 0.5) AS DECIMAL(38,0))
             * CAST(floor(value * 1000000.0 + 0.5) AS DECIMAL(38,0)))
           AS sxx
  FROM hourly
), pm AS (
  SELECT CAST(sx AS DOUBLE) / n / 1000000.0 AS mu,
         CAST(sxx AS DOUBLE) / n / 1000000000000.0 AS ex2
  FROM p
), zt AS (
  SELECT tick, value, (value - mu) / sqrt(ex2 - mu * mu) AS z
  FROM hourly CROSS JOIN pm
), c AS (
  SELECT tick, value, z,
         SUM(CAST(floor((z - 0.5) * 1000000.0 + 0.5) AS DECIMAL(38,0)))
           OVER wc AS cp,
         SUM(CAST(floor((-z - 0.5) * 1000000.0 + 0.5) AS DECIMAL(38,0)))
           OVER wc AS cm
  FROM zt
  WINDOW wc AS (ORDER BY tick
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT tick, value, z,
         cp - LEAST(CAST(0 AS DECIMAL(38,0)), MIN(cp) OVER wc) AS sp,
         cm - LEAST(CAST(0 AS DECIMAL(38,0)), MIN(cm) OVER wc) AS sm
  FROM c
  WINDOW wc AS (ORDER BY tick
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT tick, value, round(z, 6) AS z,
       round(CAST(sp AS DOUBLE) / 1000000.0, 6) AS s_plus,
       round(CAST(sm AS DOUBLE) / 1000000.0, 6) AS s_minus,
       (sp > CAST(4000000 AS DECIMAL(38,0))
        OR sm > CAST(4000000 AS DECIMAL(38,0))) AS alarm
FROM s
"""


_NS_PER_DAY = 86_400_000_000_000


def events_daily_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test + Sen's slope
    (operators/timeseries.mann_kendall) on the daily mean event value —
    the nonparametric "is this metric trending" readout beside the OLS
    hour-trend query: S from pairwise signs over the 30-day tick
    relation (ticks², bounded by construction), tie-corrected variance,
    continuity-corrected z with the portable-polynomial p, and the
    median pairwise slope selected by rank (no engine median() whose
    even-count interpolation could differ)."""
    from rust_cdc_validator_spark.operators.timeseries import mann_kendall

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.expr(f"ts_ns div {_NS_PER_DAY}").alias("day_bucket")
    ).agg((_dsum(F.col("value")) / F.count(F.lit(1))).alias("mean_value"))
    return mann_kendall(daily, "day_bucket", "mean_value")


EVENTS_DAILY_TREND_MK_SQL = f"""
WITH daily AS (
  SELECT CAST(epoch_ns(ts) // {_NS_PER_DAY} AS DOUBLE) AS t,
         round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS x
  FROM events GROUP BY epoch_ns(ts) // {_NS_PER_DAY}
), pairs AS (
  SELECT a.t AS ti, b.t AS tj, a.x AS xi, b.x AS xj
  FROM daily a JOIN daily b ON a.t < b.t
), sn AS (
  SELECT CAST(SUM(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1
                       ELSE 0 END) AS BIGINT) AS s_stat,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM pairs
), nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ticks FROM daily
), ties AS (
  SELECT CAST(COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT)
           AS tie_sum
  FROM (SELECT COUNT(*) AS tg FROM daily GROUP BY x)
), ranked AS (
  SELECT (xj - xi) / (tj - ti) AS slope,
         row_number() OVER (ORDER BY (xj - xi) / (tj - ti) ASC,
                            ti ASC, tj ASC) AS r
  FROM pairs
), med AS (
  SELECT SUM(slope) / COUNT(*) AS sen_slope
  FROM ranked CROSS JOIN sn
  WHERE r = ceil(m / 2.0) OR r = floor(m / 2.0) + 1
), f AS (
  SELECT s_stat, n_ticks, tie_sum, sen_slope,
         (CAST(n_ticks AS DOUBLE) * (CAST(n_ticks AS DOUBLE) - 1.0)
          * (2.0 * CAST(n_ticks AS DOUBLE) + 5.0)
          - CAST(tie_sum AS DOUBLE)) / 18.0 AS var_s
  FROM sn CROSS JOIN nr CROSS JOIN ties CROSS JOIN med
), zc AS (
  SELECT *,
         CASE WHEN s_stat > 0
                THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
              WHEN s_stat < 0
                THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
              ELSE 0.0 END AS z
  FROM f
)
SELECT n_ticks, s_stat, round(var_s, 6) AS var_s, round(z, 6) AS z,
       round(2.0 * {_SF.format(z='abs(z)')}, 6) AS p_two,
       round(sen_slope, 6) AS sen_slope,
       CASE WHEN round(2.0 * {_SF.format(z='abs(z)')}, 6) < 0.05
                 AND s_stat > 0 THEN 'increasing'
            WHEN round(2.0 * {_SF.format(z='abs(z)')}, 6) < 0.05
                 AND s_stat < 0 THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM zc
"""


def customers_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit (operators/privacy.t_closeness_report)
    over (nation, market-segment) quasi-groups with the account-balance
    band (2000-wide) as the sensitive attribute — the distributional
    leak l-diversity misses: a group can have every band present and
    still skew far from background. The distance is an exact integer
    numerator over 2·gn·N (no cross-row double sums), so the one-row
    report value-hashes against the SQL replay."""
    from rust_cdc_validator_spark.operators.privacy import (
        t_closeness_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0)).alias(
            "band"
        ),
    )
    return t_closeness_report(cust, ["nk", "seg"], "band", t=0.2)


CUSTOMERS_T_CLOSENESS_SQL = """
WITH base AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT) AS band
  FROM customer
), cells AS (
  SELECT nk, seg, band, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2, 3
), g AS (
  SELECT nk, seg, CAST(SUM(cnt) AS BIGINT) AS gn FROM cells GROUP BY 1, 2
), gl AS (
  SELECT band, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS nt FROM cells
), per AS (
  SELECT c.nk, c.seg,
         SUM(ABS(CAST(c.cnt AS DECIMAL(18,0)) * CAST(t.nt AS DECIMAL(18,0))
                 - CAST(l.gcnt AS DECIMAL(18,0))
                   * CAST(g.gn AS DECIMAL(18,0)))) AS num_present,
         CAST(SUM(l.gcnt) AS BIGINT) AS gcnt_present,
         MAX(g.gn) AS gn, MAX(t.nt) AS nt
  FROM cells c
  JOIN g ON c.nk = g.nk AND c.seg = g.seg
  JOIN gl l ON c.band = l.band
  CROSS JOIN tot t
  GROUP BY 1, 2
), vd AS (
  SELECT gn,
         CAST(num_present
              + CAST(gn AS DECIMAL(18,0))
                * (CAST(nt AS DECIMAL(18,0))
                   - CAST(gcnt_present AS DECIMAL(18,0))) AS DOUBLE)
           / (2.0 * CAST(gn AS DOUBLE) * nt) AS dist
  FROM per
), rep AS (
  SELECT CAST(SUM(gn) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         round(MAX(dist), 6) AS t_max,
         CAST(SUM(CASE WHEN dist > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_above_t,
         CAST(SUM(CASE WHEN dist > 0.2 THEN gn ELSE 0 END) AS BIGINT)
           AS rows_above_t
  FROM vd
)
SELECT n_rows, n_groups, t_max, groups_above_t, rows_above_t,
       round(rows_above_t / n_rows, 6) AS at_risk_ratio
FROM rep
"""


def _md5_u32_sql(expr: str) -> str:
    """First 8 hex digits of md5(expr) as a 32-bit integer — the oracle
    twin of F.conv(F.substring(F.md5(...), 1, 8), 16, 10) built from
    strpos digit lookups (DuckDB has no base-16 conv)."""
    terms = [
        f"(strpos('0123456789abcdef', substring(md5({expr}), {i + 1}, 1))"
        f" - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + "\n   + ".join(terms) + ")"


def nation_customer_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private per-nation customer counts
    (operators/privacy.dp_noisy_counts, ε = 1, sensitivity 1) with
    deterministic seeded Laplace noise — reproducible releases
    (re-randomizing per run would burn budget per run) that the oracle
    replays exactly: the md5-derived uniform, the inverse-CDF fold, and
    the exact count are all engine-portable arithmetic."""
    from rust_cdc_validator_spark.operators.privacy import dp_noisy_counts

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select("n_name")
    return dp_noisy_counts(
        joined, ["n_name"], epsilon=1.0, seed="dp"
    ).orderBy("n_name")


NATION_CUSTOMER_DP_SQL = f"""
WITH counts AS (
  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), noisy AS (
  SELECT n_name, n,
         (CAST({_md5_u32_sql("'dp:' || n_name")} AS DOUBLE) + 0.5)
           / 4294967296.0 - 0.5 AS v
  FROM counts
)
SELECT n_name, n,
       round(-1.0 * sign(v) * ln(1.0 - 2.0 * abs(v)), 6) AS noise,
       round(n + (-1.0 * sign(v) * ln(1.0 - 2.0 * abs(v))), 6) AS noisy_n
FROM noisy
ORDER BY n_name
"""


def trade_neighborhood_function(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HyperBall neighborhood function (Boldi & Vigna 2013;
    operators/graphstate.neighborhood_function_from_state) over the
    persisted customer↔supplier trade graph: per radius 0..3, the
    estimated (node, reachable) pair count, average ball size, and
    coverage vs the horizon ball — the effective-diameter curve
    computed with per-node HLL registers instead of quadratic all-pairs
    BFS. Registers propagate as sparse rows (one adjacency join + one
    max-agg per superstep); the harmonic sums are exact scaled
    integers and the cross-node totals DECIMAL-summed, so the whole
    iterative sketch value-hashes against a generated unrolled SQL
    oracle — radius by radius."""
    from rust_cdc_validator_spark.operators.graphstate import (
        neighborhood_function_from_state,
    )

    return neighborhood_function_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), horizon=3, p=6
    )


def _nf_oracle_sql(horizon: int = 3, p: int = 6) -> str:
    """Generated oracle twin of neighborhood_function_from_state: the
    md5 register seeds, every unrolled register-max superstep, the
    exact-integer harmonic sums, and the DECIMAL cross-node totals —
    so the iterative HyperBall path is value-hash-checked end to end
    (the pagerank/Louvain generated-oracle discipline)."""
    m = 1 << p
    tail = 60 - p
    a_m2 = repr(0.709 * m * m if m == 64 else None)
    assert m == 64, "oracle builder pinned to p=6"
    est = (
        f"CASE WHEN {a_m2} / (CAST(s_scaled AS DOUBLE)"
        f" / {float(1 << (tail + 1))!r}"
        f" + ({m} - nz) * 1.0) <= {2.5 * m!r}"
        f" AND ({m} - nz) > 0"
        f" THEN {float(m)!r} * ln({float(m)!r} / ({m} - nz))"
        f" ELSE {a_m2} / (CAST(s_scaled AS DOUBLE)"
        f" / {float(1 << (tail + 1))!r}"
        f" + ({m} - nz) * 1.0) END"
    )
    ctes = [
        f"""pair AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e AS (
  SELECT a AS s, b AS d FROM pair UNION ALL SELECT b AS s, a AS d FROM pair
), nodes AS (SELECT DISTINCT s AS node FROM e
), hh AS (
  SELECT node,
         CAST('0x' || substring(md5(node), 1, 15) AS BIGINT) AS h
  FROM nodes
), r0 AS (
  SELECT node, h >> {tail} AS idx,
         CASE WHEN (h & ((CAST(1 AS BIGINT) << {tail}) - 1)) = 0
              THEN {tail + 1}
              ELSE {tail} - (length(printf('%b',
                     h & ((CAST(1 AS BIGINT) << {tail}) - 1))) - 1)
         END AS rho
  FROM hh
)"""
    ]
    for t in range(1, horizon + 1):
        ctes.append(
            f"""r{t} AS (
  SELECT node, idx, MAX(rho) AS rho FROM (
    SELECT node, idx, rho FROM r{t - 1}
    UNION ALL
    SELECT e.d AS node, r.idx, r.rho FROM e JOIN r{t - 1} r ON r.node = e.s
  ) GROUP BY node, idx
)"""
        )
    for t in range(horizon + 1):
        ctes.append(
            f"""a{t} AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS nz,
         SUM(CAST(1 AS BIGINT) << ({tail + 1} - rho)) AS s_scaled
  FROM r{t} GROUP BY node
), e{t} AS (
  SELECT node, {est} AS est FROM a{t}
), n{t} AS (
  SELECT {t} AS radius, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(CAST(round(est, 6) AS DECIMAL(38,6))) AS DOUBLE) AS nf
  FROM e{t}
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM n{t}" for t in range(horizon + 1)
    )
    return f"""
WITH {','.join(ctes)},
curve AS (
  {union}
), fin AS (SELECT nf AS nf_final FROM n{horizon})
SELECT radius, n_nodes, round(nf, 6) AS nf_est,
       round(nf / n_nodes, 6) AS avg_ball,
       round(nf / nf_final, 6) AS coverage
FROM curve CROSS JOIN fin
"""


TRADE_NEIGHBORHOOD_FUNCTION_SQL = _nf_oracle_sql()


def supplier_harmonic_hyperball(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate harmonic centrality for EVERY supplier via HyperBall
    (operators/graphstate.hyperball_harmonic_from_state, horizon 3,
    p = 6) — the all-nodes companion to trade_network_closeness's exact
    16-pivot run: H(v) ≈ Σ_r clamp(|ball(v,r)|−|ball(v,r−1)|, 0)/r from
    the same register supersteps the neighborhood-function query runs.
    Top 100 by centrality (suppkey tiebreak). The generated oracle
    replays the seeds, every superstep, the per-node estimates, and the
    shell arithmetic — an iterative all-nodes centrality that
    value-hashes end to end."""
    from rust_cdc_validator_spark.operators.graphstate import (
        hyperball_harmonic_from_state,
    )

    h = hyperball_harmonic_from_state(
        spark, _trade_edge_state_for(spark, sf_dir), horizon=3, p=6
    )
    return (
        h.filter(F.col("node").startswith("s"))
        .select(
            F.col("node")
            .substr(F.lit(2), F.lit(30))
            .cast("long")
            .alias("suppkey"),
            F.col("harmonic_approx").alias("harmonic_r"),
        )
        .orderBy(F.desc("harmonic_r"), F.asc("suppkey"))
        .limit(100)
    )


def _hyperball_harmonic_oracle_sql(horizon: int = 3, p: int = 6) -> str:
    """Generated oracle twin of hyperball_harmonic_from_state: the same
    seed/superstep/estimate CTEs as _nf_oracle_sql (same builder
    template), joined per node with the clamped shell sum replayed in
    fixed ascending-radius order."""
    base = _nf_oracle_sql(horizon, p)
    # reuse everything up to the curve assembly; rebuild the tail
    ctes = base.split(",\ncurve AS (")[0]
    joins = " ".join(
        f"JOIN e{t} ON e0.node = e{t}.node" for t in range(1, horizon + 1)
    )
    shells = " + ".join(
        f"greatest(e{t}.est - e{t - 1}.est, 0.0) / {float(t)!r}"
        for t in range(1, horizon + 1)
    )
    return f"""{ctes}
SELECT CAST(substring(e0.node, 2) AS BIGINT) AS suppkey,
       round({shells}, 6) AS harmonic_r
FROM e0 {joins}
WHERE e0.node LIKE 's%'
ORDER BY harmonic_r DESC, suppkey ASC
LIMIT 100
"""


SUPPLIER_HARMONIC_HYPERBALL_SQL = _hyperball_harmonic_oracle_sql()


def events_type_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch set algebra (operators/sketch.kmv_sketch +
    kmv_pair_overlap, k = 256) over per-event-type user sets: estimated
    |A|, |B|, |A∪B|, |A∩B|, and both DIFFERENCES for every type pair —
    the subtraction the HLL overlap query (events_type_overlap_hll)
    cannot express, because KMV is an order-statistics sample rather
    than a register table. Bottom-k runs two-phase (per-partition rank
    then a ≤ k·P survivor rank — no hot type funnels its user set
    through one task); every estimate is exact integer hashes + one
    double division, replayed bit-for-bit by the relational oracle."""
    from rust_cdc_validator_spark.operators.sketch import (
        kmv_pair_overlap,
        kmv_sketch,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=256)
    return kmv_pair_overlap(sk, "event_type", k=256).orderBy("ga", "gb")


EVENTS_TYPE_KMV_OVERLAP_SQL = """
WITH hh AS (
  SELECT DISTINCT event_type AS g,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
), ranked AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h ASC) AS r
  FROM hh
), kept AS (
  SELECT g, h, r FROM ranked WHERE r <= 256
), sk AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS nz,
         MAX(CASE WHEN r = 256 THEN h END) AS kth
  FROM kept GROUP BY g
), est AS (
  SELECT g, nz, kth,
         CASE WHEN nz < 256 THEN CAST(nz AS DOUBLE)
              ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE)
                   / CAST(kth AS DOUBLE) END AS est
  FROM sk
), pr AS (
  SELECT a.g AS ga, b.g AS gb, a.est AS est_a, b.est AS est_b,
         CASE WHEN a.nz >= 256 THEN CAST(a.kth AS DOUBLE)
              ELSE CAST(1152921504606846976 AS DOUBLE) END AS ta,
         CASE WHEN b.nz >= 256 THEN CAST(b.kth AS DOUBLE)
              ELSE CAST(1152921504606846976 AS DOUBLE) END AS tb
  FROM est a JOIN est b ON a.g < b.g
), mh AS (
  SELECT pr.ga, pr.gb, x.h FROM pr JOIN kept x ON x.g = pr.ga
  UNION
  SELECT pr.ga, pr.gb, x.h FROM pr JOIN kept x ON x.g = pr.gb
), mr AS (
  SELECT ga, gb, h,
         row_number() OVER (PARTITION BY ga, gb ORDER BY h ASC) AS r
  FROM mh
), mu AS (
  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_merged,
         MAX(CASE WHEN r = 256 THEN h END) AS kth_u
  FROM mr GROUP BY ga, gb
), ix AS (
  SELECT pr.ga, pr.gb, CAST(COUNT(*) AS BIGINT) AS n_int
  FROM pr
  JOIN kept x ON x.g = pr.ga
  JOIN kept y ON y.g = pr.gb AND y.h = x.h
  WHERE CAST(x.h AS DOUBLE) < LEAST(pr.ta, pr.tb)
  GROUP BY pr.ga, pr.gb
), da AS (
  SELECT pr.ga, pr.gb, CAST(COUNT(*) AS BIGINT) AS n_only
  FROM pr JOIN kept x ON x.g = pr.ga
  WHERE CAST(x.h AS DOUBLE) < LEAST(pr.ta, pr.tb)
    AND NOT EXISTS (SELECT 1 FROM kept y
                    WHERE y.g = pr.gb AND y.h = x.h)
  GROUP BY pr.ga, pr.gb
), db AS (
  SELECT pr.ga, pr.gb, CAST(COUNT(*) AS BIGINT) AS n_only
  FROM pr JOIN kept x ON x.g = pr.gb
  WHERE CAST(x.h AS DOUBLE) < LEAST(pr.ta, pr.tb)
    AND NOT EXISTS (SELECT 1 FROM kept y
                    WHERE y.g = pr.ga AND y.h = x.h)
  GROUP BY pr.ga, pr.gb
)
SELECT pr.ga, pr.gb,
       round(pr.est_a, 4) AS est_a_r,
       round(pr.est_b, 4) AS est_b_r,
       round(CASE WHEN mu.n_merged < 256 THEN CAST(mu.n_merged AS DOUBLE)
                  ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(mu.kth_u AS DOUBLE) END, 4) AS est_union_r,
       round(CAST(COALESCE(ix.n_int, 0) AS DOUBLE)
             * (CAST(1152921504606846976 AS DOUBLE)
                / LEAST(pr.ta, pr.tb)), 4) AS est_intersect_r,
       round(CAST(COALESCE(da.n_only, 0) AS DOUBLE)
             * (CAST(1152921504606846976 AS DOUBLE)
                / LEAST(pr.ta, pr.tb)), 4) AS est_a_minus_b_r,
       round(CAST(COALESCE(db.n_only, 0) AS DOUBLE)
             * (CAST(1152921504606846976 AS DOUBLE)
                / LEAST(pr.ta, pr.tb)), 4) AS est_b_minus_a_r
FROM pr
JOIN mu ON mu.ga = pr.ga AND mu.gb = pr.gb
LEFT JOIN ix ON ix.ga = pr.ga AND ix.gb = pr.gb
LEFT JOIN da ON da.ga = pr.ga AND da.gb = pr.gb
LEFT JOIN db ON db.ga = pr.ga AND db.gb = pr.gb
ORDER BY pr.ga, pr.gb
"""


def events_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Hilbert clustering key (operators/layout.hilbert_value) over
    (user_id low byte, hour-of-day) — the better-locality sibling of
    events_zorder: consecutive keys are always grid neighbors, so
    range-partitioned files cover compact blobs instead of Z's split
    rectangles (per-file span shrink pinned in test_layout.py). The
    unrolled bit walk is pure integer shift/mask/xor codegen; the
    generated oracle replays every rotation round bit-for-bit."""
    from rust_cdc_validator_spark.operators.layout import hilbert_key

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    keyed = hilbert_key(
        ev,
        F.col("user_id").bitwiseAND(F.lit(255)),
        F.hour("ts"),
        bits=8,
        out_col="hval",
    )
    return keyed.select("event_id", "hval")


def _hilbert_oracle_sql(bits: int = 8) -> str:
    """Generated oracle twin of layout.hilbert_value: one chained CTE
    per bit level carrying the rotated (x, y) frame and the running d —
    the same MSB-first walk, in exact integer SQL."""
    n = 1 << bits
    ctes = [
        f"""h0 AS (
  SELECT event_id, CAST(user_id & {n - 1} AS BIGINT) AS x,
         CAST(hour(ts) AS BIGINT) AS y, CAST(0 AS BIGINT) AS d
  FROM events
)"""
    ]
    for j, i in enumerate(reversed(range(bits))):
        s = 1 << i
        rx = f"((x >> {i}) & 1)"
        ry = f"((y >> {i}) & 1)"
        ctes.append(
            f"""h{j + 1} AS (
  SELECT event_id,
         CASE WHEN {ry} = 1 THEN x
              WHEN {rx} = 1 THEN {n - 1} - y ELSE y END AS x,
         CASE WHEN {ry} = 1 THEN y
              WHEN {rx} = 1 THEN {n - 1} - x ELSE x END AS y,
         d + {s * s} * CAST(xor(3 * {rx}, {ry}) AS BIGINT) AS d
  FROM h{j}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT event_id, d AS hval FROM h{bits}\n"
    )


EVENTS_HILBERT_SQL = _hilbert_oracle_sql()


def orders_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract (operators/expect.expect_report)
    over the orders table — the reference's validation mission turned
    single-table: nullability, key uniqueness, value ranges, enum
    membership, format regex, and customer-FK referential integrity as
    ONE auditable report. Every row-level check folds into a single
    aggregation pass; uniqueness rides the same pass as a
    count-distinct; the FK check is one broadcast-able anti-join count.
    Exact integer counting throughout — the oracle replays each report
    row bit-for-bit."""
    from rust_cdc_validator_spark.operators.expect import (
        Expectation,
        expect_report,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return expect_report(
        orders,
        [
            Expectation("orderkey_not_null", "not_null", "o_orderkey"),
            Expectation("orderkey_unique", "unique", "o_orderkey"),
            Expectation(
                "totalprice_range",
                "in_range",
                "o_totalprice",
                {"lo": 0, "hi": 600000},
            ),
            Expectation("orderdate_not_null", "not_null", "o_orderdate"),
            Expectation(
                "status_enum",
                "in_set",
                "o_orderstatus",
                {"values": ["O", "F", "P"]},
            ),
            Expectation(
                "priority_format",
                "matches_regex",
                "o_orderpriority",
                {"pattern": "^[0-9]-"},
            ),
            Expectation(
                "custkey_fk",
                "referential",
                "o_custkey",
                {"ref": cust, "ref_col": "c_custkey"},
            ),
        ],
    )


ORDERS_QUALITY_EXPECTATIONS_SQL = """
WITH s AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS ok_null,
    CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS ok_nn,
    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ok_dst,
    CAST(SUM(CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS tp_nn,
    CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 600000)
              THEN 1 ELSE 0 END) AS BIGINT) AS tp_bad,
    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS od_null,
    CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS st_nn,
    CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('O', 'F', 'P')
              THEN 1 ELSE 0 END) AS BIGINT) AS st_bad,
    CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS ck_nn,
    CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[0-9]-')
              THEN 1 ELSE 0 END) AS BIGINT) AS ck_bad
  FROM orders
), fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS fk_checked,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS fk_bad
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_custkey IS NOT NULL
), rep AS (
  SELECT 'orderkey_not_null' AS expectation, 'not_null' AS kind,
         'o_orderkey' AS "column", n_rows AS n_checked, ok_null AS n_failed
  FROM s
  UNION ALL
  SELECT 'orderkey_unique', 'unique', 'o_orderkey', ok_nn,
         ok_nn - ok_dst FROM s
  UNION ALL
  SELECT 'totalprice_range', 'in_range', 'o_totalprice', tp_nn, tp_bad
  FROM s
  UNION ALL
  SELECT 'orderdate_not_null', 'not_null', 'o_orderdate', n_rows, od_null
  FROM s
  UNION ALL
  SELECT 'status_enum', 'in_set', 'o_orderstatus', st_nn, st_bad FROM s
  UNION ALL
  SELECT 'priority_format', 'matches_regex', 'o_orderpriority',
         ck_nn, ck_bad FROM s
  UNION ALL
  SELECT 'custkey_fk', 'referential', 'o_custkey', fk_checked, fk_bad
  FROM fk
)
SELECT expectation, kind, "column", n_checked, n_failed,
       round(CASE WHEN n_checked > 0
                  THEN (n_checked - n_failed) / n_checked
                  ELSE 1.0 END, 6) AS pass_ratio
FROM rep
"""


def trade_edge_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph CDC between edge-state versions
    (operators/graphstate.edge_state_diff): what the folded 1999+ trade
    delta DID to the network — per status (added / changed / unchanged),
    edge counts and before/after weight mass, read entirely from the
    base and advanced state versions the incremental pipeline already
    maintains (zero fact scans in the diffed plan). The oracle
    recomputes both eras' canonical edge relations from raw facts and
    replays the classification — so the version-diff semantics are
    value-hash-checked end to end. (``removed`` cannot occur here —
    co-trade deltas only add weight; a CDC retraction delta would
    populate it.)"""
    from rust_cdc_validator_spark.operators.graphstate import (
        edge_state_diff,
    )

    _advanced_trade_edge_state_for(spark, sf_dir)  # ensures base too
    d = edge_state_diff(
        spark,
        _ADV_EDGE_BASE_CACHE[sf_dir],
        _ADV_EDGE_STATE_CACHE[sf_dir],
    )
    dec = "decimal(18,3)"
    return (
        d.filter(F.col("src").startswith("c"))  # one row per edge
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.round(
                F.sum(F.col("w_before").cast(dec)).cast("double"), 3
            ).alias("w_before_sum"),
            F.round(
                F.sum(F.col("w_after").cast(dec)).cast("double"), 3
            ).alias("w_after_sum"),
        )
        .orderBy("status")
    )


TRADE_EDGE_STATE_DIFF_SQL = """
WITH base AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w_before
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate < DATE '1999-01-01'
  GROUP BY 1, 2
), fullr AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w_after
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), d AS (
  SELECT COALESCE(b.src, f.src) AS src, b.w_before, f.w_after,
         CASE WHEN b.w_before IS NULL THEN 'added'
              WHEN f.w_after IS NULL THEN 'removed'
              WHEN b.w_before <> f.w_after THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM base b FULL OUTER JOIN fullr f
    ON b.src = f.src AND b.dst = f.dst
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_edges,
       round(CAST(SUM(CAST(w_before AS DECIMAL(18,3))) AS DOUBLE), 3)
         AS w_before_sum,
       round(CAST(SUM(CAST(w_after AS DECIMAL(18,3))) AS DOUBLE), 3)
         AS w_after_sum
FROM d WHERE src LIKE 'c%'
GROUP BY status
ORDER BY status
"""


QUERIES: dict[str, QueryFn] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "top_parts_per_brand": top_parts_per_brand,
    "big_orders": big_orders,
    "q15_top_supplier": q15_top_supplier,
    "q22_low_engagement_value_customers": q22_low_engagement_value_customers,
    "returned_items": returned_items,
    "promo_revenue_share": promo_revenue_share,
    "events_hourly": events_hourly,
    "events_json_extract": events_json_extract,
    "cdc_net_effect_events": cdc_net_effect_events,
    "cdc_replay_orders": cdc_replay_orders,
    "diff_rows_drilldown": diff_rows_drilldown,
    "diff_chunk_layout": diff_chunk_layout,
    "dedup_exact_docs": dedup_exact_docs,
    "text_stats": text_stats,
    "text_quality": text_quality,
    "lang_profile": lang_profile,
    "ngram_jaccard_partners": ngram_jaccard_partners,
    "knn_top1": knn_top1,
    "multimodal_features": multimodal_features,
    "orders_except_filtered": orders_except_filtered,
    "active_customer_ids": active_customer_ids,
    "events_rollup": events_rollup,
    "events_sessionize": events_sessionize,
    "diff_chunk_digest": diff_chunk_digest,
    "docs_quality_filtered": docs_quality_filtered,
    "token_frequencies": token_frequencies,
    "embedding_label_stats": embedding_label_stats,
    "minhash_near_dup": minhash_near_dup,
    "simhash_near_dup": simhash_near_dup,
    "ann_lsh_top1": ann_lsh_top1,
    "ann_ivf_top1": ann_ivf_top1,
    "ann_ivfpq_top1": ann_ivfpq_top1,
    "customers_semi_anti": customers_semi_anti,
    "supplier_running_totals": supplier_running_totals,
    "quantity_percentiles": quantity_percentiles,
    "customers_without_orders": customers_without_orders,
    "customer_balance_analytics": customer_balance_analytics,
    "dedup_clusters_docs": dedup_clusters_docs,
    "top_orders_limit": top_orders_limit,
    "events_pivot": events_pivot,
    "lineitem_cube": lineitem_cube,
    "small_quantity_revenue": small_quantity_revenue,
    "orders_monthly": orders_monthly,
    "string_functions_demo": string_functions_demo,
    "orders_profile": orders_profile,
    "training_corpus": training_corpus,
    "sample_bucket_docs": sample_bucket_docs,
    "contamination_docs": contamination_docs,
    "doc_fingerprints": doc_fingerprints,
    "tfidf_keywords_docs": tfidf_keywords_docs,
    "shard_mixing_docs": shard_mixing_docs,
    "ngram_novelty_docs": ngram_novelty_docs,
    "events_zorder": events_zorder,
    "events_user_hll": events_user_hll,
    "events_rolling_distinct_hll": events_rolling_distinct_hll,
    "token_cm_counts": token_cm_counts,
    "embedding_near_dup_docs": embedding_near_dup_docs,
    "embedding_near_dup_narrow": embedding_near_dup_narrow,
    "semantic_dedup_docs": semantic_dedup_docs,
    "training_corpus_neardup": training_corpus_neardup,
    "docs_lsh_planned_neardup": docs_lsh_planned_neardup,
    "lsh_bucket_overflow_stats": lsh_bucket_overflow_stats,
    "minhash_band_overflow_stats": minhash_band_overflow_stats,
    "minhash_index_probe": minhash_index_probe,
    "lsh_index_probe": lsh_index_probe,
    "events_asof_purchase": events_asof_purchase,
    "packed_sequences": packed_sequences,
    "domain_capped_docs": domain_capped_docs,
    "events_purchase_window": events_purchase_window,
    "stratified_sample_docs": stratified_sample_docs,
    "bm25_search_docs": bm25_search_docs,
    "hybrid_search_docs": hybrid_search_docs,
    "source_mixture_weights": source_mixture_weights,
    "dup_span_stats": dup_span_stats,
    "dup_span_scrub": dup_span_scrub,
    "gopher_quality_docs": gopher_quality_docs,
    "dsir_importance_docs": dsir_importance_docs,
    "bpe_vocab_docs": bpe_vocab_docs,
    "doc_chunks": doc_chunks,
    "docs_clean_lines": docs_clean_lines,
    "boilerplate_scrubbed_docs": boilerplate_scrubbed_docs,
    "boilerplate_line_histogram": boilerplate_line_histogram,
    "training_order_docs": training_order_docs,
    "mixture_applied_docs": mixture_applied_docs,
    "contamination_bloom_docs": contamination_bloom_docs,
    "events_asof_next_error": events_asof_next_error,
    "events_rolling_features": events_rolling_features,
    "label_centroids": label_centroids,
    "curriculum_docs": curriculum_docs,
    "mmr_rerank_docs": mmr_rerank_docs,
    "curriculum_equal_mass_docs": curriculum_equal_mass_docs,
    "blocklist_docs": blocklist_docs,
    "lm_perplexity_docs": lm_perplexity_docs,
    "leakage_safe_splits_docs": leakage_safe_splits_docs,
    "corpus_health_report": corpus_health_report,
    "orders_drift_report": orders_drift_report,
    "source_overlap_matrix": source_overlap_matrix,
    "orders_psi_drift": orders_psi_drift,
    "ann_recall_report": ann_recall_report,
    "contamination_ratio_docs": contamination_ratio_docs,
    "dedup_cluster_histogram": dedup_cluster_histogram,
    "bm25_ndcg_report": bm25_ndcg_report,
    "centroid_outlier_docs": centroid_outlier_docs,
    "doc_vectors_hashed": doc_vectors_hashed,
    "events_retention_cohorts": events_retention_cohorts,
    "events_path_trigrams": events_path_trigrams,
    "customers_fuzzy_pairs": customers_fuzzy_pairs,
    "supplier_pagerank": supplier_pagerank,
    "supplier_trade_communities": supplier_trade_communities,
    "trade_reach_hops": trade_reach_hops,
    "trade_cheapest_reach": trade_cheapest_reach,
    "trade_edge_state_stats": trade_edge_state_stats,
    "trade_edge_state_advance_audit": trade_edge_state_advance_audit,
    "q9_product_type_profit": q9_product_type_profit,
    "supplier_trade_kcore": supplier_trade_kcore,
    "nation3_supplier_affinity": nation3_supplier_affinity,
    "q4_order_priority": q4_order_priority,
    "q12_ship_mode_priority": q12_ship_mode_priority,
    "q11_important_parts": q11_important_parts,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "supplier_hits_authority": supplier_hits_authority,
    "supplier_link_prediction": supplier_link_prediction,
    "docs_lang_nb_confusion": docs_lang_nb_confusion,
    "events_value_acf": events_value_acf,
    "q6_forecast_revenue": q6_forecast_revenue,
    "nb_english_auc": nb_english_auc,
    "events_hourly_seasonality": events_hourly_seasonality,
    "cdc_orders_scd2": cdc_orders_scd2,
    "cdc_orders_scd2_asof": cdc_orders_scd2_asof,
    "cdc_orders_scd2_asof_persisted": cdc_orders_scd2_asof_persisted,
    "customer_rfm_segments": customer_rfm_segments,
    "cdc_orders_scd2_asof_diff": cdc_orders_scd2_asof_diff,
    "orders_price_wasserstein": orders_price_wasserstein,
    "parts_cotrade_clustering": parts_cotrade_clustering,
    "events_value_volume_xcorr": events_value_volume_xcorr,
    "nb_english_score_lift": nb_english_score_lift,
    "events_hourly_anomalies": events_hourly_anomalies,
    "q18_large_volume_customers": q18_large_volume_customers,
    "events_type_overlap_hll": events_type_overlap_hll,
    "embedding_pca_whiten": embedding_pca_whiten,
    "docs_compaction_plan": docs_compaction_plan,
    "doc_length_batches": doc_length_batches,
    "customers_k_anonymity": customers_k_anonymity,
    "nation_balance_spend_corr": nation_balance_spend_corr,
    "customers_sorted_neighborhood": customers_sorted_neighborhood,
    "events_type_hour_mi": events_type_hour_mi,
    "events_type_hour_chi2": events_type_hour_chi2,
    "parts_association_rules": parts_association_rules,
    "customer_balance_lift": customer_balance_lift,
    "docs_bigram_pmi": docs_bigram_pmi,
    "events_value_hour_trend": events_value_hour_trend,
    "orders_price_ks_drift": orders_price_ks_drift,
    "orders_price_mannwhitney": orders_price_mannwhitney,
    "events_value_cusum": events_value_cusum,
    "events_daily_trend_mk": events_daily_trend_mk,
    "customers_t_closeness": customers_t_closeness,
    "nation_customer_dp": nation_customer_dp,
    "trade_neighborhood_function": trade_neighborhood_function,
    "supplier_harmonic_hyperball": supplier_harmonic_hyperball,
    "events_type_kmv_overlap": events_type_kmv_overlap,
    "events_hilbert": events_hilbert,
    "orders_quality_expectations": orders_quality_expectations,
    "trade_edge_state_diff": trade_edge_state_diff,
    "nation_segment_fdr": nation_segment_fdr,
    "orders_record_price_frontier": orders_record_price_frontier,
    "events_markov_transitions": events_markov_transitions,
    "customer_golden_entities": customer_golden_entities,
    "bpe_token_budget": bpe_token_budget,
    "orders_join_size_sketch": orders_join_size_sketch,
    "orders_heavy_hitters_cm": orders_heavy_hitters_cm,
    "lineitem_bloom_join_prune": lineitem_bloom_join_prune,
    "weighted_sample_docs": weighted_sample_docs,
    "orders_price_quantile_sketch": orders_price_quantile_sketch,
    "events_value_outliers": events_value_outliers,
    "docs_markup_stripped": docs_markup_stripped,
    "embedding_sq8_error": embedding_sq8_error,
    "parts_cotrade_triangles": parts_cotrade_triangles,
    "docs_url_canonical": docs_url_canonical,
    "docs_kfold_assignment": docs_kfold_assignment,
    "docs_char_entropy": docs_char_entropy,
    "token_zipf_fit": token_zipf_fit,
    "docs_source_quota": docs_source_quota,
    "suppliers_comention_mixing": suppliers_comention_mixing,
    "orders_custkey_skew": orders_custkey_skew,
    "events_value_changepoint": events_value_changepoint,
    "docs_readability": docs_readability,
    "docs_pii_report": docs_pii_report,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "events_peak_concurrency": events_peak_concurrency,
    "web_corpus_prep": web_corpus_prep,
    "customer_reorder_survival": customer_reorder_survival,
    "customer_cohort_ltv": customer_cohort_ltv,
    "nation_revenue_concentration": nation_revenue_concentration,
    "trade_network_closeness": trade_network_closeness,
    "trade_betweenness": trade_betweenness,
    "events_value_ewma": events_value_ewma,
    "orders_lineitem_reconciliation": orders_lineitem_reconciliation,
    "audio_corpus_stats": audio_corpus_stats,
    "cdc_partial_image_replay": cdc_partial_image_replay,
    "cdc_schema_evolution_replay": cdc_schema_evolution_replay,
    "orders_price_jackknife_ci": orders_price_jackknife_ci,
    "events_conformal_intervals": events_conformal_intervals,
    "events_isotonic_calibration": events_isotonic_calibration,
    "customer_reorder_hazard": customer_reorder_hazard,
    "events_brown_forecast": events_brown_forecast,
    "docs_score_quantile_norm": docs_score_quantile_norm,
    "events_ab_cuped_readout": events_ab_cuped_readout,
    "orders_price_robust_mean": orders_price_robust_mean,
    "supplier_trade_louvain": supplier_trade_louvain,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "top_parts_per_brand": TOP_PARTS_SQL,
    "big_orders": BIG_ORDERS_SQL,
    "q15_top_supplier": Q15_TOP_SUPPLIER_SQL,
    "q22_low_engagement_value_customers": Q22_LOW_ENGAGEMENT_SQL,
    "returned_items": RETURNED_ITEMS_SQL,
    "promo_revenue_share": PROMO_SHARE_SQL,
    "events_hourly": EVENTS_HOURLY_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "cdc_net_effect_events": CDC_NET_EFFECT_SQL,
    "cdc_replay_orders": CDC_REPLAY_ORDERS_SQL,
    "diff_rows_drilldown": DIFF_DRILLDOWN_SQL,
    "diff_chunk_layout": DIFF_CHUNK_SQL,
    "dedup_exact_docs": DEDUP_EXACT_SQL,
    "text_stats": TEXT_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "lang_profile": LANG_PROFILE_SQL,
    "ngram_jaccard_partners": NGRAM_JACCARD_SQL,
    "knn_top1": KNN_TOP1_SQL,
    "multimodal_features": MULTIMODAL_SQL,
    "orders_except_filtered": ORDERS_EXCEPT_SQL,
    "active_customer_ids": ACTIVE_CUSTOMER_IDS_SQL,
    "events_rollup": EVENTS_ROLLUP_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "diff_chunk_digest": DIFF_CHUNK_DIGEST_SQL,
    "docs_quality_filtered": DOCS_QUALITY_FILTERED_SQL,
    "token_frequencies": TOKEN_FREQUENCIES_SQL,
    "embedding_label_stats": EMBEDDING_LABEL_STATS_SQL,
    "customers_semi_anti": CUSTOMERS_SEMI_ANTI_SQL,
    "supplier_running_totals": SUPPLIER_RUNNING_SQL,
    "quantity_percentiles": QUANTITY_PERCENTILES_SQL,
    "customers_without_orders": CUSTOMERS_NO_ORDERS_SQL,
    "customer_balance_analytics": CUSTOMER_BALANCE_SQL,
    "top_orders_limit": TOP_ORDERS_LIMIT_SQL,
    "events_pivot": EVENTS_PIVOT_SQL,
    "lineitem_cube": LINEITEM_CUBE_SQL,
    "small_quantity_revenue": SMALL_QTY_REVENUE_SQL,
    "orders_monthly": ORDERS_MONTHLY_SQL,
    "string_functions_demo": STRING_FUNCS_SQL,
    "orders_profile": ORDERS_PROFILE_SQL,
    "training_corpus": TRAINING_CORPUS_SQL,
    "sample_bucket_docs": SAMPLE_BUCKET_SQL,
    "contamination_docs": CONTAMINATION_SQL,
    "doc_fingerprints": DOC_FINGERPRINTS_SQL,
    "tfidf_keywords_docs": TFIDF_KEYWORDS_SQL,
    "shard_mixing_docs": SHARD_MIXING_SQL,
    "ngram_novelty_docs": NGRAM_NOVELTY_SQL,
    "events_zorder": EVENTS_ZORDER_SQL,
    "events_user_hll": EVENTS_USER_HLL_SQL,
    "events_rolling_distinct_hll": EVENTS_ROLLING_DISTINCT_HLL_SQL,
    "token_cm_counts": TOKEN_CM_COUNTS_SQL,
    "events_asof_purchase": EVENTS_ASOF_PURCHASE_SQL,
    "packed_sequences": PACKED_SEQUENCES_SQL,
    "domain_capped_docs": DOMAIN_CAPPED_SQL,
    "events_purchase_window": EVENTS_PURCHASE_WINDOW_SQL,
    "stratified_sample_docs": STRATIFIED_SAMPLE_SQL,
    "bm25_search_docs": BM25_SEARCH_SQL,
    "hybrid_search_docs": HYBRID_SEARCH_SQL,
    "source_mixture_weights": SOURCE_MIXTURE_SQL,
    "dup_span_stats": DUP_SPAN_STATS_SQL,
    "dup_span_scrub": DUP_SPAN_SCRUB_SQL,
    "gopher_quality_docs": GOPHER_QUALITY_SQL,
    "dsir_importance_docs": DSIR_IMPORTANCE_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "docs_clean_lines": DOCS_CLEAN_LINES_SQL,
    "boilerplate_scrubbed_docs": BOILERPLATE_SCRUB_SQL,
    "boilerplate_line_histogram": BOILERPLATE_HISTOGRAM_SQL,
    "training_order_docs": TRAINING_ORDER_SQL,
    "mixture_applied_docs": MIXTURE_APPLIED_SQL,
    "events_asof_next_error": EVENTS_ASOF_NEXT_ERROR_SQL,
    "events_rolling_features": EVENTS_ROLLING_SQL,
    "label_centroids": LABEL_CENTROIDS_SQL,
    "curriculum_docs": CURRICULUM_SQL,
    "curriculum_equal_mass_docs": CURRICULUM_EQUAL_MASS_SQL,
    "blocklist_docs": BLOCKLIST_SQL,
    "lm_perplexity_docs": LM_PERPLEXITY_SQL,
    "leakage_safe_splits_docs": LEAKAGE_SAFE_SPLITS_SQL,
    "corpus_health_report": CORPUS_HEALTH_SQL,
    "orders_drift_report": ORDERS_DRIFT_SQL,
    "source_overlap_matrix": SOURCE_OVERLAP_SQL,
    "orders_psi_drift": ORDERS_PSI_SQL,
    "contamination_ratio_docs": CONTAMINATION_RATIO_SQL,
    "bm25_ndcg_report": BM25_NDCG_SQL,
    "centroid_outlier_docs": CENTROID_OUTLIERS_SQL,
    "doc_vectors_hashed": DOC_VECTORS_HASHED_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "events_path_trigrams": EVENTS_PATH_TRIGRAMS_SQL,
    "customers_fuzzy_pairs": CUSTOMERS_FUZZY_PAIRS_SQL,
    "supplier_pagerank": SUPPLIER_PAGERANK_SQL,
    "supplier_trade_communities": SUPPLIER_TRADE_COMMUNITIES_SQL,
    "trade_reach_hops": TRADE_REACH_HOPS_SQL,
    "trade_cheapest_reach": TRADE_CHEAPEST_REACH_SQL,
    "trade_edge_state_stats": TRADE_EDGE_STATE_STATS_SQL,
    "trade_edge_state_advance_audit": TRADE_EDGE_STATE_ADVANCE_AUDIT_SQL,
    "q9_product_type_profit": Q9_PRODUCT_TYPE_PROFIT_SQL,
    "supplier_trade_kcore": SUPPLIER_TRADE_KCORE_SQL,
    "nation3_supplier_affinity": NATION3_SUPPLIER_AFFINITY_SQL,
    "q4_order_priority": Q4_ORDER_PRIORITY_SQL,
    "q12_ship_mode_priority": Q12_SHIP_MODE_PRIORITY_SQL,
    "q11_important_parts": Q11_IMPORTANT_PARTS_SQL,
    "q16_supplier_part_counts": Q16_SUPPLIER_PART_COUNTS_SQL,
    "supplier_hits_authority": SUPPLIER_HITS_AUTHORITY_SQL,
    "supplier_link_prediction": SUPPLIER_LINK_PREDICTION_SQL,
    "docs_lang_nb_confusion": DOCS_LANG_NB_CONFUSION_SQL,
    "events_value_acf": EVENTS_VALUE_ACF_SQL,
    "q6_forecast_revenue": Q6_FORECAST_REVENUE_SQL,
    "nb_english_auc": NB_ENGLISH_AUC_SQL,
    "events_hourly_seasonality": EVENTS_HOURLY_SEASONALITY_SQL,
    "cdc_orders_scd2": CDC_ORDERS_SCD2_SQL,
    "cdc_orders_scd2_asof": CDC_ORDERS_SCD2_ASOF_SQL,
    "cdc_orders_scd2_asof_persisted": CDC_ORDERS_SCD2_ASOF_PERSISTED_SQL,
    "customer_rfm_segments": CUSTOMER_RFM_SEGMENTS_SQL,
    "cdc_orders_scd2_asof_diff": CDC_ORDERS_SCD2_ASOF_DIFF_SQL,
    "orders_price_wasserstein": ORDERS_PRICE_WASSERSTEIN_SQL,
    "parts_cotrade_clustering": PARTS_COTRADE_CLUSTERING_SQL,
    "events_value_volume_xcorr": EVENTS_VALUE_VOLUME_XCORR_SQL,
    "nb_english_score_lift": NB_ENGLISH_SCORE_LIFT_SQL,
    "events_hourly_anomalies": EVENTS_HOURLY_ANOMALIES_SQL,
    "q18_large_volume_customers": Q18_LARGE_VOLUME_CUSTOMERS_SQL,
    "events_type_overlap_hll": EVENTS_TYPE_OVERLAP_HLL_SQL,
    "docs_compaction_plan": DOCS_COMPACTION_PLAN_SQL,
    "doc_length_batches": DOC_LENGTH_BATCHES_SQL,
    "customers_k_anonymity": CUSTOMERS_K_ANONYMITY_SQL,
    "nation_balance_spend_corr": NATION_BALANCE_SPEND_CORR_SQL,
    "customers_sorted_neighborhood": CUSTOMERS_SORTED_NEIGHBORHOOD_SQL,
    "events_type_hour_mi": EVENTS_TYPE_HOUR_MI_SQL,
    "events_type_hour_chi2": EVENTS_TYPE_HOUR_CHI2_SQL,
    "parts_association_rules": PARTS_ASSOCIATION_RULES_SQL,
    "customer_balance_lift": CUSTOMER_BALANCE_LIFT_SQL,
    "docs_bigram_pmi": DOCS_BIGRAM_PMI_SQL,
    "events_value_hour_trend": EVENTS_VALUE_HOUR_TREND_SQL,
    "orders_price_ks_drift": ORDERS_PRICE_KS_DRIFT_SQL,
    "orders_price_mannwhitney": ORDERS_PRICE_MANNWHITNEY_SQL,
    "events_value_cusum": EVENTS_VALUE_CUSUM_SQL,
    "events_daily_trend_mk": EVENTS_DAILY_TREND_MK_SQL,
    "customers_t_closeness": CUSTOMERS_T_CLOSENESS_SQL,
    "nation_customer_dp": NATION_CUSTOMER_DP_SQL,
    "trade_neighborhood_function": TRADE_NEIGHBORHOOD_FUNCTION_SQL,
    "supplier_harmonic_hyperball": SUPPLIER_HARMONIC_HYPERBALL_SQL,
    "events_type_kmv_overlap": EVENTS_TYPE_KMV_OVERLAP_SQL,
    "events_hilbert": EVENTS_HILBERT_SQL,
    "orders_quality_expectations": ORDERS_QUALITY_EXPECTATIONS_SQL,
    "trade_edge_state_diff": TRADE_EDGE_STATE_DIFF_SQL,
    "nation_segment_fdr": NATION_SEGMENT_FDR_SQL,
    "orders_record_price_frontier": ORDERS_RECORD_PRICE_FRONTIER_SQL,
    "events_markov_transitions": EVENTS_MARKOV_TRANSITIONS_SQL,
    "customer_golden_entities": CUSTOMER_GOLDEN_ENTITIES_SQL,
    "orders_join_size_sketch": ORDERS_JOIN_SIZE_SKETCH_SQL,
    "orders_heavy_hitters_cm": ORDERS_HEAVY_HITTERS_CM_SQL,
    "lineitem_bloom_join_prune": LINEITEM_BLOOM_JOIN_PRUNE_SQL,
    "weighted_sample_docs": WEIGHTED_SAMPLE_DOCS_SQL,
    "orders_price_quantile_sketch": ORDERS_PRICE_QSKETCH_SQL,
    "events_value_outliers": EVENTS_VALUE_OUTLIERS_SQL,
    "docs_markup_stripped": DOCS_MARKUP_STRIPPED_SQL,
    "embedding_sq8_error": EMBEDDING_SQ8_ERROR_SQL,
    "parts_cotrade_triangles": PARTS_COTRADE_TRIANGLES_SQL,
    "docs_url_canonical": DOCS_URL_CANONICAL_SQL,
    "docs_kfold_assignment": DOCS_KFOLD_ASSIGNMENT_SQL,
    "docs_char_entropy": DOCS_CHAR_ENTROPY_SQL,
    "token_zipf_fit": TOKEN_ZIPF_FIT_SQL,
    "docs_source_quota": DOCS_SOURCE_QUOTA_SQL,
    "suppliers_comention_mixing": SUPPLIERS_COMENTION_MIXING_SQL,
    "orders_custkey_skew": ORDERS_CUSTKEY_SKEW_SQL,
    "events_value_changepoint": EVENTS_VALUE_CHANGEPOINT_SQL,
    "docs_readability": DOCS_READABILITY_SQL,
    "docs_pii_report": DOCS_PII_REPORT_SQL,
    "q21_waiting_suppliers": Q21_WAITING_SUPPLIERS_SQL,
    "events_peak_concurrency": EVENTS_PEAK_CONCURRENCY_SQL,
    "web_corpus_prep": WEB_CORPUS_PREP_SQL,
    "customer_reorder_survival": CUSTOMER_REORDER_SURVIVAL_SQL,
    "customer_cohort_ltv": CUSTOMER_COHORT_LTV_SQL,
    "nation_revenue_concentration": NATION_REVENUE_CONCENTRATION_SQL,
    "trade_network_closeness": TRADE_NETWORK_CLOSENESS_SQL,
    "events_value_ewma": EVENTS_VALUE_EWMA_SQL,
    "orders_lineitem_reconciliation": ORDERS_LINEITEM_RECONCILIATION_SQL,
    "audio_corpus_stats": AUDIO_CORPUS_STATS_SQL,
    "cdc_partial_image_replay": CDC_PARTIAL_IMAGE_SQL,
    "cdc_schema_evolution_replay": CDC_SCHEMA_EVOLUTION_SQL,
    "orders_price_jackknife_ci": ORDERS_PRICE_JACKKNIFE_SQL,
    "events_conformal_intervals": EVENTS_CONFORMAL_SQL,
    "events_isotonic_calibration": EVENTS_ISOTONIC_SQL,
    "customer_reorder_hazard": CUSTOMER_REORDER_HAZARD_SQL,
    "events_brown_forecast": EVENTS_BROWN_FORECAST_SQL,
    "docs_score_quantile_norm": DOCS_SCORE_QUANTILE_NORM_SQL,
    "events_ab_cuped_readout": EVENTS_AB_CUPED_SQL,
    "orders_price_robust_mean": ORDERS_PRICE_ROBUST_MEAN_SQL,
    "supplier_trade_louvain": SUPPLIER_TRADE_LOUVAIN_SQL,
    # minhash_near_dup / simhash_near_dup / ann_lsh_top1 / ann_ivf_top1 /
    # embedding_near_dup_docs / lsh_bucket_overflow_stats /
    # minhash_band_overflow_stats / minhash_index_probe / lsh_index_probe /
    # contamination_bloom_docs (Bloom membership) / mmr_rerank_docs
    # (iterative greedy): hash/quantizer/iterative-based, not
    # SQL-expressible → rows-only by design (golden-pinned in
    # tests/goldens/).
}
