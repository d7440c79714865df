"""Vector math over ``array<float>`` embedding columns — JVM-side
higher-order functions, deterministic left-to-right fold order.

All arithmetic is promoted to double before accumulation so results are
bit-stable and engine-portable (matters for the DuckDB oracle checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_unit_int8(a: Column) -> Column:
    """array<double> UNIT vector → array<tinyint> at fixed scale 127
    (components of a unit vector lie in [-1, 1], so no per-row scale is
    needed). 8× narrower than float64 on disk and through shuffles;
    per-component error ≤ 1/254. Pair with ``dequantize_unit_int8``;
    intended for candidate retrieval followed by an exact re-rank, not for
    final similarity scores."""
    return F.transform(
        a,
        lambda x: F.round(x.cast("double") * F.lit(127.0)).cast("tinyint"),
    )


def dequantize_unit_int8(q: Column) -> Column:
    return F.transform(q, lambda x: x.cast("double") / F.lit(127.0))


def mean_vectors(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_col: str = "centroid",
) -> DataFrame:
    """Per-group mean vector — class prototypes, cluster centroids, or
    mean-pooling chunk embeddings back to document embeddings. Returns
    one row per group: ``(group_col, n_vecs, out_col array<double>)``.

    Scale shape: ``posexplode`` feeds a ``groupBy(group, dim)`` whose
    partial aggregation collapses MAP-SIDE — the shuffle carries at most
    ``groups × dim`` partial-sum rows per input partition, never the
    ``N × dim`` exploded relation; the final regroup to arrays moves only
    ``groups × dim`` rows. Pure JVM (no UDF). Ragged vectors average per
    dimension over the rows that have it.
    """
    ex = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("_pos", "_v"),
    )
    per_dim = ex.groupBy(group_col, "_pos").agg(
        F.sum(F.col("_v").cast("double")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    mean_struct = F.struct(
        F.col("_pos"), (F.col("_s") / F.col("_n")).alias("_m")
    )
    return per_dim.groupBy(group_col).agg(
        F.max("_n").cast("long").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(mean_struct)), lambda s: s["_m"]
        ).alias(out_col),
    )


def normalize(a: Column) -> Column:
    """Unit-normalize; zero vectors pass through unchanged."""
    n = norm(a)
    return F.when(
        n > 0, F.transform(a, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(a, lambda x: x.cast("double")))


def centroid_outliers(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_salts: int = 32,
) -> DataFrame:
    """The ``k`` members of each group farthest (lowest cosine) from the
    group's mean vector — mislabel/outlier triage for labeled embedding
    sets and the per-cluster quality check after any clustering pass.
    Returns ``(id_col, group_col, centroid_sim, outlier_rank)`` with rank
    1 = farthest.

    Scale shape: centroids via :func:`mean_vectors` (map-side partial
    sums), broadcast back (groups-sized); similarity is a JVM fold per
    row; the per-group bottom-k reuses ``cap_per_domain``'s salted
    two-stage EXACT top-k, so a hot group never sorts in a single task.
    """
    from rust_cdc_validator_spark.operators.corpus import cap_per_domain

    cents = mean_vectors(df, group_col, vec_col).select(group_col, "centroid")
    joined = df.join(F.broadcast(cents), group_col)
    scored = joined.withColumn(
        "centroid_sim", cosine(F.col(vec_col), F.col("centroid"))
    ).withColumn("_neg_sim", -F.col("centroid_sim"))
    capped = cap_per_domain(
        scored,
        domain_col=group_col,
        k=k,
        order_col="_neg_sim",
        id_col=id_col,
        n_salts=n_salts,
    )
    return capped.select(
        id_col,
        group_col,
        "centroid_sim",
        F.col("domain_rank").cast("int").alias("outlier_rank"),
    )
