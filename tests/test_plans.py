"""Physical-plan assertions: the properties that matter at 100 TB —
filter pushdown, column pruning, broadcast joins — pinned as tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from rust_cdc_validator_spark.plans.inspect import (
    pushed_filters,
    scan_columns,
    uses_broadcast_join,
)
from rust_cdc_validator_spark.queries import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_q1_column_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    cols = scan_columns(df)[0]
    # only the 7 referenced lineitem columns are read, not all 11
    assert set(cols) == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }


def test_q3_broadcasts_customer(spark, sf_dir):
    assert uses_broadcast_join(q3_shipping_priority(spark, sf_dir))


def test_q5_broadcasts_dims(spark, sf_dir):
    assert uses_broadcast_join(q5_region_revenue(spark, sf_dir))


def test_net_effect_uses_window_group_limit(spark, sf_dir):
    """Pin the map-side rank-limit: Spark's WindowGroupLimit collapses the
    change log to ~one row per (partition, key) BEFORE the shuffle — the
    property that keeps the net-effect shuffle small at 100 TB."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import cdc_replay_orders

    plan = explain_str(cdc_replay_orders(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2  # partial (pre-shuffle) + final


def test_replay_manifest_join_is_broadcast(spark, tmp_path):
    from rust_cdc_validator_spark.operators.replay import replay_snapshot
    from rust_cdc_validator_spark.plans.inspect import uses_broadcast_join
    from rust_cdc_validator_spark.sources.manifest import FileMode, discover_files
    from tests.cdc_fixtures import write_cdc_file

    cols = ["Op", "_dms_ingestion_timestamp", "id", "v"]
    root = str(tmp_path / "db/public/t")
    write_cdc_file(f"{root}/LOAD00000001.parquet",
                   [{"Op": "I", "_dms_ingestion_timestamp": "t", "id": 1, "v": 1}], cols)
    entries = discover_files(spark, root, FileMode.FULL_LOAD_ONLY)
    assert uses_broadcast_join(replay_snapshot(spark, entries, ["id"]))


def test_projection_prunes_unread_columns(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey")
    )
    assert scan_columns(df) == [["o_orderkey", "o_custkey"]]


def test_bm25_single_scan_and_takeordered(spark, sf_dir):
    """BM25's ranked path must read the corpus ONCE (stats are a separate
    precomputable pass) and finish with TakeOrderedAndProject, never a
    global-window sort over the score relation."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import bm25_search_docs

    import re

    plan = explain_str(bm25_search_docs(spark, sf_dir))
    # formatted explain lists each scan once in the tree and once in the
    # node-detail section — count unique node ids, not substring hits
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_base_conf_block():
    """The shipped config block: AQE family on, UTC, Arrow, 128MB splits;
    streaming state stays on Spark's default provider."""
    from rust_cdc_validator_spark.session import base_conf

    conf = base_conf(64)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.files.maxPartitionBytes"] == "134217728"
    assert conf["spark.sql.shuffle.partitions"] == "64"
    assert "spark.sql.streaming.stateStore.providerClass" not in conf


def test_corpus_prep_chain_text_shuffle_budget(spark, sf_dir):
    """r7 (VERDICT #7): composition audit for the corpus-prep CLI chain —
    gate → exact dedup → near-dup clusters → keeper semi-join → leakage
    split → epoch shuffle → shard write. Individual stages are audited in
    their own tests; this pins what the COMPOSITION moves: full document
    TEXT crosses exactly two exchanges —

      1. the keeper semi-join (the corpus rewrite itself: docs shuffle on
         the 8-byte id to meet the corpus-sized keeper set — at fixture
         scale AQE broadcasts the keeper side instead, so this exchange
         may not appear at all), and
      2. the epoch shuffle's window partitioning on `shard`

    — and the shard write adds none (shard_col reuses the epoch shuffle's
    partitioning; without the epoch shuffle its round-robin repartition
    IS the documented rewrite shuffle). The dedup/cluster machinery that
    decides WHO survives moves hashes and ids only.
    """
    from rust_cdc_validator_spark.operators.corpus import (
        leakage_safe_split,
        prepare_training_corpus_neardup,
        shuffle_corpus,
    )
    from rust_cdc_validator_spark.plans.inspect import exchanges_carrying

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keepers = prepare_training_corpus_neardup(docs).select("doc_id")
    kept = docs.join(keepers, "doc_id", "left_semi")
    split = leakage_safe_split(kept, {"train": 0.9, "val": 0.1})
    shuffled = shuffle_corpus(split, seed=1, num_shards=16)
    # sortWithinPartitions is what the write adds with shard_col set
    final = shuffled.sortWithinPartitions("shard", "shard_pos")

    n = exchanges_carrying(final, "text")
    assert 1 <= n <= 2, f"text crossed {n} exchanges"
    # the decision machinery upstream of the semi-join moves no text
    assert exchanges_carrying(keepers, "text") == 0
    # regression guard for the r7 write path: adding the old round-robin
    # repartition back would push the count to 3
    round_robin = final.repartition(8)
    assert exchanges_carrying(round_robin, "text") == n + 1


def test_zipf_fit_uses_takeordered(spark, sf_dir):
    """token_zipf_fit's top-200 must come from TakeOrderedAndProject
    (per-partition heaps), never a global-window sort over the whole
    vocabulary."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import token_zipf_fit

    plan = explain_str(token_zipf_fit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_quota_cap_under_quota_domains_skip_window(spark):
    """domain_quota_cap's two-regime plan: the pass-through side of the
    union must contain no Window node — only over-cap domains sort."""
    from rust_cdc_validator_spark.operators.corpus import domain_quota_cap

    df = spark.createDataFrame(
        [(i, "d%d" % (i % 4)) for i in range(40)], "doc_id long, src string"
    )
    plan = (
        domain_quota_cap(df, "src", cap=100)  # nothing over cap
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the window exists in the over-cap branch but its input is the
    # filtered (empty at this cap) side; the pass-through branch joins and
    # filters only — exactly one Window node in the whole union, and the
    # rank filter must push down as a WindowGroupLimit (per-partition
    # top-cap before the full sort-window)
    import re

    assert len(re.findall(r"\+- Window \[", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_web_corpus_prep_materializes_once(spark, sf_dir):
    """The composed prep chain must not re-read the corpus per consumer:
    the redacted stage is checkpointed, so the final plan reads NO parquet
    (one upstream scan happened at materialization) and the remaining
    exchanges are exactly the keyed stages (quota count-agg + quota
    window + fold window + final agg)."""
    import re

    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import web_corpus_prep

    plan = explain_str(web_corpus_prep(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 5


def test_q21_semi_anti_no_cartesian(spark, sf_dir):
    """VERDICT r9 #7: the Q21 shape must plan as a LeftSemi + LeftAnti
    over lineitem with the suppkey/date predicates riding the joins as
    residual conditions — and never degrade to a cartesian (a
    non-equi-only condition would)."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q21_waiting_suppliers

    plan = explain_str(q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q9_fact_scans_once_dims_broadcast(spark, sf_dir):
    """r11 TPC-H Q9 shape: the part filter reaches the scan, every
    dimension joins broadcast (no fact exchange before the aggregate),
    and the fact reads only the referenced columns."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q9_product_type_profit

    df = q9_product_type_profit(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert any("p_name" in f for f in pushed_filters(df))
    li_cols = next(
        c for c in scan_columns(df) if any(x.startswith("l_") for x in c)
    )
    assert set(li_cols) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    }


def test_q18_having_is_only_fact_exchange(spark, sf_dir):
    """r11 TPC-H Q18 shape: the qualifying-order aggregate is the fact's
    only exchange; the survivor set joins back broadcast and the top-100
    is a TakeOrdered, not a global sort."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q18_large_volume_customers

    plan = explain_str(q18_large_volume_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_plans_as_semi_join_no_cartesian(spark, sf_dir):
    """r11 Q4 shape: the correlated EXISTS must plan as ONE LeftSemi on
    the order key with the date comparison as a residual condition —
    never a cartesian, never an aggregate-then-join rewrite."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q4_order_priority

    df = q4_order_priority(spark, sf_dir)
    plan = explain_str(df)
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q12_ship_year_pushed_and_single_fact_shuffle(spark, sf_dir):
    """r11 Q12 shape: the ship-year window reaches the lineitem scan as
    a pushed filter, the mode/priority CASEs stay codegen expressions
    (no cartesian, no extra pass), and the only exchanges are the one
    fact-fact join shuffle pair plus the 2-row final aggregate."""
    from rust_cdc_validator_spark.plans.inspect import (
        exchanges_carrying,
        explain_str,
    )
    from rust_cdc_validator_spark.queries import q12_ship_mode_priority

    df = q12_ship_mode_priority(spark, sf_dir)
    plan = explain_str(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # at most one shuffle per join side on the order key (at the test SF
    # the year-filtered lineitem side broadcasts and the count is zero;
    # at scale each side shuffles exactly once — never more)
    assert exchanges_carrying(df, "l_orderkey") <= 1
    assert exchanges_carrying(df, "o_orderpriority") <= 1


def test_q6_all_predicates_pushed_and_scan_pruned(spark, sf_dir):
    """r11 Q6 shape is the pushdown litmus: all three range predicates
    reach the parquet scan and only the four referenced columns read."""
    from rust_cdc_validator_spark.queries import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, (col, filters)
    assert set(scan_columns(df)[0]) == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }


def test_q16_anti_join_precedes_distinct_aggregate(spark, sf_dir):
    """r11 Q16 shape: the NOT-IN exclusion must plan as a broadcast
    LeftAnti BEFORE the distinct aggregation (anti-then-aggregate), with
    the part dim broadcast."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q16_supplier_part_counts

    plan = explain_str(q16_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti" in plan
    anti_pos = plan.index("LeftAnti")
    # the final aggregate (count distinct over p_ grouping) appears above
    # the anti join in the tree dump -> its offset is smaller
    agg_pos = plan.index("HashAggregate")
    assert agg_pos < anti_pos
    assert plan.count("BroadcastHashJoin") >= 1 or "BroadcastExchange" in plan


def test_q11_single_fact_pass_scalar_reaggregated(spark, sf_dir):
    """r11 Q11 shape: ONE lineitem scan — the global total re-aggregates
    from the per-part relation, never a second fact pass."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import q11_important_parts

    df = q11_important_parts(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("lineitem.parquet") == 0  # checkpointed per-part relation
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or "Scan" in plan


# ---------------------------------------------------------------------------
# r11 second-wave plan pins
# ---------------------------------------------------------------------------


def test_concentration_broadcasts_nation_no_cartesian(spark, sf_dir):
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import nation_revenue_concentration

    df = nation_revenue_concentration(spark, sf_dir)
    plan = explain_str(df)
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # orders scan reads only the two referenced columns
    cols = [c for c in scan_columns(df) if "o_custkey" in c]
    assert cols and set(cols[0]) == {"o_custkey", "o_totalprice"}


def test_cohort_ltv_broadcasts_sizes(spark, sf_dir):
    from rust_cdc_validator_spark.queries import customer_cohort_ltv

    df = customer_cohort_ltv(spark, sf_dir)
    assert uses_broadcast_join(df)
    cols = scan_columns(df)
    # both order scans (cohort pass + revenue pass) stay 2-3 columns wide
    for c in cols:
        assert len(c) <= 3, cols


def test_reconciliation_pregrouped_equijoin(spark, sf_dir):
    """Fact-to-fact reconciliation must (a) pre-aggregate lineitem to
    order grain BEFORE the join (the HashAggregate keyed by l_orderkey
    sits below the join, so the join never sees raw lineitems) and (b)
    stay an equi-join on the order key — never a cartesian. The
    broadcast-vs-shuffle choice is deliberately LEFT TO CATALYST: it is
    size-based, so the sf0.01 fixture legitimately broadcasts the
    KB-sized rollup while a 100 TB run SMJs — pinning either physical
    strategy would pin the wrong one at the other scale."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import orders_lineitem_reconciliation

    df = orders_lineitem_reconciliation(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    # the rollup aggregate keyed by l_orderkey is below the join
    assert plan.index("HashAggregate") < plan.index("Join"), plan[:1500]
    # lineitem reads only the charge inputs + join key
    li_cols = [c for c in scan_columns(df) if "l_extendedprice" in c]
    assert li_cols and set(li_cols[0]) == {
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax",
    }


def test_kaplan_meier_two_exchanges_only(spark, sf_dir):
    """KM's heavy lineage is one key shuffle (lag window) + one duration
    groupBy; the KM-table windows run on the bounded distinct-duration
    relation. Pin the exchange count so a global-window rewrite (which
    would funnel raw orders into one task) can't sneak in."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import customer_reorder_survival

    plan = explain_str(customer_reorder_survival(spark, sf_dir))
    # hashpartitioning exchanges: custkey window, duration groupBy; the
    # single-partition exchange for the bounded KM table is the only
    # SinglePartition in the plan
    assert plan.count("SinglePartition") <= 2, plan[:2000]


# ---------------------------------------------------------------------------
# r11 third-wave plan pins
# ---------------------------------------------------------------------------


def test_advance_audit_reads_only_state_parquet(spark, sf_dir):
    """The incremental-maintenance audit's claim, pinned: the audited
    plan scans the ADVANCED state's adjacency only — zero fact-table
    scans (the fact join was paid during the one-time build+advance)."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import (
        trade_edge_state_advance_audit,
    )

    df = trade_edge_state_advance_audit(spark, sf_dir)
    plan = explain_str(df)
    for fact in ("lineitem.parquet", "orders.parquet"):
        assert fact not in plan, fact
    assert "trade_edge_adv" in plan  # the advanced version, not the base


def test_cheapest_reach_no_cartesian_reads_state(spark, sf_dir):
    """Weighted SSSP over state: equi-joins only, and the final relaxed
    distance relation carries no fact scans (checkpointed supersteps)."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import trade_cheapest_reach

    df = trade_cheapest_reach(spark, sf_dir)
    plan = explain_str(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    for fact in ("lineitem.parquet", "orders.parquet"):
        assert fact not in plan, fact


def test_scd2_asof_persisted_pruning(spark, sf_dir):
    """The SCD2 persisted-history claim, pinned: the AS-OF interval
    predicates reach the parquet scan as PushedFilters (valid_from
    upper bound + the open/closed valid_to disjunction), and the scan
    reads only the three referenced columns plus the interval bounds —
    on a history range-partitioned by valid_from these prune files and
    row-groups, the read pattern a temporal table needs at 100 TB."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import (
        cdc_orders_scd2_asof_persisted,
    )

    df = cdc_orders_scd2_asof_persisted(spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "valid_from" in filters, filters
    assert "valid_to" in filters, filters
    plan = explain_str(df)
    # reads the PERSISTED history, not the orders fact table
    assert "orders_scd2_hist" in plan
    assert "orders.parquet" not in plan


def test_pivot_bfs_levels_shared_pass_shape(spark, sf_dir):
    """The shared pivot-vectorized forward BFS (graphstate.
    pivot_bfs_levels), pinned on two properties that make it the 100x
    plan: every materialized level is NODE-level rows (the k-pivot
    dimension lives in a fixed-width lane array, so level row counts
    are bounded by |V|, never k*|V|), and the whole pass launches a
    BOUNDED number of jobs (one checkpoint+count pair per superstep
    plus the settled merge — not O(k) jobs)."""
    from rust_cdc_validator_spark.operators.graphstate import (
        pivot_bfs_levels,
    )
    from rust_cdc_validator_spark.queries import _trade_edge_state_for

    state = _trade_edge_state_for(spark, sf_dir)
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    pivots = (
        sup.select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
        .orderBy(F.md5(F.col("node")))
        .limit(16)
    )
    sc = spark.sparkContext
    group = "pivot-bfs-pin"
    sc.setJobGroup(group, "shared pass shape pin")
    try:
        pivot_list, levels, counts = pivot_bfs_levels(
            spark, state, pivots, max_hops=4, count_paths=False
        )
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    k = len(pivot_list)
    assert 1 <= k <= 16  # min(16, |suppliers at this sf|)
    n_nodes = spark.read.parquet(f"{state}/nodes").count()
    # node-level levels: each level's row count is bounded by |V|
    assert all(c <= n_nodes for c in counts), (counts, n_nodes)
    # every reached (node, lane) is reached exactly once across levels
    # (the settled bitmask prevents re-entry)
    total_lanes = 0
    for lvl in levels:
        total_lanes += lvl.select(
            F.sum(F.size(F.filter("sig", lambda x: x > 0)))
        ).first()[0]
    assert total_lanes <= k * n_nodes
    # bounded job count: O(1) jobs per superstep (checkpoint, count,
    # broadcast-exchange builds) + the pivot collect — NOT O(k). Same
    # 10-jobs-per-superstep budget test_graph_scale pins pagerank to;
    # measured 30 for 4 supersteps.
    assert jobs <= 10 * 4 + 5, jobs


def test_partial_image_replay_one_hash_shuffle(spark, sf_dir):
    """Pin the partial-image net effect's 100 TB shape: the whole
    column-merging reduction is ONE HashAggregate pair (partial_max_by
    map-side combine) around a single exchange on the primary key — the
    change log itself never crosses the shuffle un-reduced, and nothing
    falls back to SortAggregate (max_by keeps the buffers hash-friendly)."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import cdc_partial_image_replay

    plan = explain_str(cdc_partial_image_replay(spark, sf_dir))
    assert "partial_max_by" in plan
    assert "SortAggregate" not in plan
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_schema_evolution_replay_missing_column_is_null_literal(spark, sf_dir):
    """union_evolving must align epochs by name (added column NULL for the
    narrow epoch) and keep net_effect's map-side WindowGroupLimit."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import cdc_schema_evolution_replay

    df = cdc_schema_evolution_replay(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "o_orderkey", "o_custkey", "o_totalprice",
    ]
    plan = explain_str(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_isotonic_calibration_no_cartesian_one_fact_pass(spark, sf_dir):
    """The minimax joins run over the 25-row bin relation (broadcast
    nested-loop on range predicates is FINE there); the events fact table
    is scanned once and never cartesian-joined."""
    from rust_cdc_validator_spark.plans.inspect import explain_str
    from rust_cdc_validator_spark.queries import events_isotonic_calibration

    plan = explain_str(events_isotonic_calibration(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # events is scanned once per bin-relation build; the three bin
    # self-joins reuse the same aggregated subtree via exchange reuse or
    # re-aggregation of a 25-row relation — either is bounded. Pin only
    # the absence of a fact-side cartesian and of a global window.
    assert "Arguments: SinglePartition" not in plan or "Window" not in plan
