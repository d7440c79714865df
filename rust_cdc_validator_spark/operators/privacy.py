"""Privacy risk measurement for training-data release: k-anonymity and
l-diversity audits (Sweeney 2002; Machanavajjhala et al. 2007).

A corpus that leaves the pipeline (training set, eval dump, vendor
hand-off) carries re-identification risk through QUASI-IDENTIFIER
combinations — columns individually harmless (nation, segment, balance
band) whose joint values isolate individuals. The standard audit:

  * k-anonymity: every quasi-identifier combination must cover ≥ k rows;
    a row in a smaller group is re-identifiable by linking on those
    columns alone.
  * l-diversity: within each combination, a SENSITIVE column must take
    ≥ l distinct values — a 50-row group is still disclosive if all 50
    share the same diagnosis.

Both are plain aggregations, so the audit is exactly SQL-replayable —
unlike a PII regex scrub, which removes known patterns, this measures the
structural risk that remains.

Scale shape at 100 TB: ONE hash aggregation on the quasi-identifier
tuple with map-side partial counts (plus a distinct-count partial for
l-diversity); everything after is a groups-sized re-aggregation to a
one-row report. No joins, no windows, nothing driver-side. Skewed
quasi-groups (huge common combinations) are exactly the SAFE ones, so
skew never needs mitigation here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "k_anonymity_report",
    "quasi_group_sizes",
    "t_closeness_groups",
    "t_closeness_report",
    "dp_noisy_counts",
]


def quasi_group_sizes(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str | None = None,
) -> DataFrame:
    """Per quasi-identifier combination: row count, and (when
    ``sensitive_col`` is given) the number of distinct sensitive values.
    The drill-down companion to :func:`k_anonymity_report` — filter
    ``group_rows < k`` to see WHICH combinations leak."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("group_rows")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("sensitive_values")
        )
    return df.groupBy(*quasi_cols).agg(*aggs)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str | Column],
    k: int,
    sensitive_col: str | None = None,
    l: int | None = None,
) -> DataFrame:
    """One-row audit: does the frame satisfy k-anonymity (and optionally
    l-diversity) over ``quasi_cols``?

    Returns n_rows, n_groups, groups/rows below ``k`` (the rows that
    must be suppressed or generalized before release), the smallest
    group size, and — with ``sensitive_col`` + ``l`` — the same for
    diversity violations. ``at_risk_ratio`` is the fraction of rows
    re-identifiable at the chosen k.
    """
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is vacuous)")
    if (sensitive_col is None) != (l is None):
        raise ValueError("sensitive_col and l must be given together")
    if l is not None and l < 2:
        raise ValueError("l must be >= 2")
    groups = quasi_group_sizes(df, quasi_cols, sensitive_col)
    viol = F.col("group_rows") < k
    aggs = [
        F.sum("group_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias("small_groups"),
        F.sum(F.when(viol, F.col("group_rows")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("group_rows").cast("long").alias("min_group_rows"),
    ]
    if l is not None:
        div_viol = F.col("sensitive_values") < l
        aggs += [
            F.sum(F.when(div_viol, 1).otherwise(0))
            .cast("long")
            .alias("low_diversity_groups"),
            F.sum(F.when(div_viol, F.col("group_rows")).otherwise(0))
            .cast("long")
            .alias("rows_low_diversity"),
        ]
    rep = groups.agg(*aggs)
    return rep.withColumn(
        "at_risk_ratio",
        F.round(F.col("rows_at_risk") / F.col("n_rows"), 6),
    )


def t_closeness_groups(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """Per quasi-group t-closeness distance (Li, Li & Venkatasubramanian
    2007) for a CATEGORICAL sensitive column: the variational distance
    ½ Σ_v |p_group(v) − p_global(v)| between the group's sensitive
    distribution and the table's. l-diversity counts values; t-closeness
    catches the subtler leak where a group's MIX skews far from
    background (50 distinct diagnoses, 90% of them one disease).

    Exactness contract: the distance is computed as an INTEGER numerator
    over a common denominator —
    Σ_present |cnt·N − gcnt·gn| + gn·(N − Σ_present gcnt), all
    DECIMAL-exact — divided once by 2·gn·N in double, so a SQL oracle
    replays it bit-for-bit (no cross-row double sums whose association
    order could differ).

    Scale shape: ONE (quasi, sensitive) hash agg with map-side partials;
    group totals and the global sensitive distribution both re-aggregate
    FROM the cells relation (the raw table is read once); the global
    relation is sensitive-cardinality-sized and broadcast. Output is
    groups-sized: (quasi..., group_rows, t_distance)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    dec = "decimal(18,0)"
    cells = df.groupBy(
        *[F.col(c) for c in quasi_cols], F.col(sensitive_col).alias("_s")
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    g = cells.groupBy(*quasi_cols).agg(
        F.sum("_cnt").cast("long").alias("_gn")
    )
    gl = cells.groupBy("_s").agg(F.sum("_cnt").cast("long").alias("_gcnt"))
    tot = cells.agg(F.sum("_cnt").cast("long").alias("_nt"))
    joined = (
        cells.join(g, quasi_cols)
        .join(F.broadcast(gl), "_s")
        .crossJoin(F.broadcast(tot))
    )
    num_cell = F.abs(
        F.col("_cnt").cast(dec) * F.col("_nt").cast(dec)
        - F.col("_gcnt").cast(dec) * F.col("_gn").cast(dec)
    )
    per = joined.groupBy(*quasi_cols).agg(
        F.sum(num_cell).alias("_num_present"),
        F.sum("_gcnt").cast("long").alias("_gcnt_present"),
        F.max("_gn").alias("_gn"),
        F.max("_nt").alias("_nt"),
    )
    dist = (
        F.col("_num_present")
        + F.col("_gn").cast(dec)
        * (F.col("_nt").cast(dec) - F.col("_gcnt_present").cast(dec))
    ).cast("double") / (
        F.lit(2.0) * F.col("_gn") * F.col("_nt")
    )
    return per.select(
        *quasi_cols,
        F.col("_gn").alias("group_rows"),
        dist.alias("t_distance"),
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float,
) -> DataFrame:
    """One-row t-closeness audit over :func:`t_closeness_groups`: the
    worst group distance, how many groups (and rows) sit beyond the
    release threshold ``t``, and the at-risk row share. Same plan as the
    drill-down plus a groups-sized final re-aggregation."""
    if not 0 < t < 1:
        raise ValueError("t must be in (0, 1)")
    groups = t_closeness_groups(df, quasi_cols, sensitive_col)
    viol = F.col("t_distance") > F.lit(float(t))
    return (
        groups.agg(
            F.sum("group_rows").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.round(F.max("t_distance"), 6).alias("t_max"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("groups_above_t"),
            F.sum(F.when(viol, F.col("group_rows")).otherwise(0))
            .cast("long")
            .alias("rows_above_t"),
        )
        .withColumn(
            "at_risk_ratio",
            F.round(F.col("rows_above_t") / F.col("n_rows"), 6),
        )
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float,
    seed: str = "dp",
    sensitivity: int = 1,
) -> DataFrame:
    """ε-differentially-private group counts via the Laplace mechanism
    (Dwork et al. 2006) with DETERMINISTIC seeded noise: each group's
    draw is u = (md5_32(seed:group) + 0.5)/2³², folded through the
    Laplace inverse CDF −b·sign(u−½)·ln(1−2|u−½|) with scale
    b = sensitivity/ε. Seeding by group key makes the release
    reproducible (re-running the pipeline never re-randomizes a
    published number — re-randomizing would burn privacy budget per
    run), stage-retry-stable, and SQL-replayable: the oracle
    reconstructs the identical hash integer and the identical per-row
    double arithmetic. The +0.5 centering keeps u in (0,1), so the log
    never sees 0.

    Returns (group..., n, noise, noisy_n) — ``n`` is the EXACT count and
    stays inside the pipeline boundary; only ``noisy_n`` is the
    releasable column (kept together here because this operator is the
    utility-loss audit as much as the release).

    Scale shape: one map-side-combined count agg; noise is a per-group
    scalar expression over the groups-sized relation. At 100 TB the
    count is the only thing that touches data."""
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    if sensitivity < 1:
        raise ValueError("sensitivity must be >= 1")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    counts = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    key = F.concat_ws(
        ":",
        F.lit(seed),
        *[F.col(c).cast("string") for c in group_cols],
    )
    x = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    u = (x.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    v = u - F.lit(0.5)
    b = float(sensitivity) / float(epsilon)
    noise = (
        -F.lit(b)
        * F.signum(v)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v))
    )
    return counts.select(
        *group_cols,
        "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n") + noise, 6).alias("noisy_n"),
    )
