"""IVF-PQ: product-quantized codes over the persisted IVF index — the
memory/bytes-read story for ANN at 100 TB.

Published recipe (Jégou, Douze, Schmid 2011, "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI — the FAISS `IVFx,PQy` layout): split
each unit vector into ``m`` subspaces, vector-quantize each subspace with
its own 256-entry codebook, and score queries against the m-byte CODES via
per-query lookup tables (asymmetric distance computation, ADC) instead of
against full vectors. A float64 dim-64 vector is 512 B; its PQ code is 8 B
— the probe scan reads ~64× fewer bytes, which at cluster scale is the
difference between an in-page-cache index and an object-store scan per
query batch.

Spark shape:

* codebook training is distributed ACROSS SUBSPACES: a bounded sample
  (same contract as ``similarity._fit_coarse_quantizer``) explodes into
  (subspace, subvector) rows, one grouped Arrow task per subspace runs a
  seeded Lloyd's k-means on its own sample, read in id order. Only the
  codebooks (m × 256 × sub_dim floats, ~100 KB) ever reach the driver.
* encoding is map-side (broadcast codebooks, one argmin matmul per Arrow
  batch); codes land in ``codes/`` PARTITIONED BY the IVF cell, so a probe
  prunes to n_probe/n_cells of the CODES — never touching full vectors.
* search: ADC per probed cell (grouped Arrow task: per-query LUT = q-sub ·
  codebook, score = m table lookups per code) keeps a ``refine_factor·k``
  candidate pool per query, then an exact re-rank joins ONLY the candidate
  rows against the full-vector relation (narrow id join; candidate count ∝
  queries · k · refine_factor, independent of corpus size).

Recall contract: ADC scores are approximations — the exact re-rank fixes
ordering among surfaced candidates, and ``refine_factor`` buys back
candidates ADC mis-ranks below the top k. Cell pruning loss is the same as
plain IVF (raise ``n_probe``).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.errors import AnalysisException

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_cdc_validator_spark.operators.similarity import (
    _assign_cells,
    _assign_schema,
    _dot_pdf,
    _unit_vectors,
    build_ivf_index,
)
from rust_cdc_validator_spark.plans.inspect import ensure_parallelism

N_CODES = 256  # one byte per subspace, the standard PQ codebook size


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Seeded Lloyd's k-means for one subspace's sample (runs INSIDE a
    grouped Arrow task — numpy on a bounded sample, one task per subspace).
    k-means++-style seeding via distance-weighted picks from the seeded
    RNG; empty clusters re-seed to the farthest point."""
    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    x2 = (x * x).sum(axis=1)

    def dists_to(c: np.ndarray) -> np.ndarray:
        # ||x-c||² row-wise via the expansion — one matmul, no (n,k,d) temp
        return x2[:, None] - 2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]

    picks = [int(rng.choice(len(x)))]
    # running min distance, clamped: the expansion form can dip to ~-1e-16
    # for a point equal to a centroid, which rng.choice rejects as negative
    best = np.maximum(dists_to(x[picks[-1]][None, :])[:, 0], 0.0)
    while len(picks) < k:
        tot = best.sum()
        p = best / tot if tot > 0 else None
        picks.append(int(rng.choice(len(x), p=p)))
        best = np.maximum(
            np.minimum(best, dists_to(x[picks[-1]][None, :])[:, 0]), 0.0
        )
    cents = x[picks].copy()
    for _ in range(iters):
        d2 = dists_to(cents)
        assign = d2.argmin(axis=1)
        for j in range(k):
            sel = x[assign == j]
            if len(sel):
                cents[j] = sel.mean(axis=0)
            else:
                cents[j] = x[d2.min(axis=1).argmax()]
    # pad degenerate codebooks (sample smaller than k) by repeating rows so
    # the codebook tensor stays rectangular; padded codes are never argmin-
    # preferred over their originals in a tie (argmin takes the first)
    if len(cents) < N_CODES and k < N_CODES:
        reps = -(-N_CODES // len(cents))
        cents = np.tile(cents, (reps, 1))[:N_CODES]
    return cents


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sample_size: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """Fit per-subspace codebooks on a bounded corpus sample; returns
    (m, 256, dim/m) float64. Distributed across subspaces: each of the m
    grouped tasks fits only its own subvectors.

    ``id_col`` must hold unique integral ids. The sample is a hash of
    (id, ``seed``) and each subspace fits its rows in id order, so both
    depend only on the ids and ``seed``: the codebooks do not change with
    the corpus's partitioning or the session's thread count."""
    unit = _unit_vectors(corpus, id_col, vec_col)
    cap = 64 * sample_size
    probed = unit.limit(cap + 1).count()
    fraction = min(1.0, sample_size / max(min(probed, cap), 1))
    if fraction < 1.0:
        buckets = 1 << 30
        unit = unit.filter(
            F.pmod(F.xxhash64("_id", F.lit(seed)), F.lit(buckets))
            < int(fraction * buckets)
        )

    sub_schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("subvec", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def split_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["_v"].to_numpy())
            b, dim = v.shape
            if dim % m:
                raise ValueError(f"dim {dim} not divisible by m={m}")
            sub = v.reshape(b, m, dim // m)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(), m),
                    "sub": np.tile(np.arange(m, dtype=np.int32), b),
                    "subvec": list(sub.reshape(b * m, dim // m)),
                }
            )

    cb_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("code", T.IntegerType(), False),
            T.StructField("center", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["sub"].iloc[0])
        # the shuffle delivers rows in partition order; k-means++ seeds
        # pick by index, so fix the order by id
        pdf = pdf.sort_values("_id", kind="stable")
        x = np.stack(pdf["subvec"].to_numpy())
        cents = _lloyd(x, N_CODES, seed + s)
        return pd.DataFrame(
            {
                "sub": s,
                "code": np.arange(len(cents), dtype=np.int32),
                "center": list(cents),
            }
        )

    rows = (
        unit.mapInPandas(split_rows, sub_schema)
        .groupBy("sub")
        .applyInPandas(fit, cb_schema)
        .collect()
    )
    sub_dim = len(rows[0]["center"])
    books = np.zeros((m, N_CODES, sub_dim))
    for r in rows:
        books[r["sub"], r["code"]] = r["center"]
    return books


def _encode_batch(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(b, dim) unit vectors → (b, m) uint8 codes: per-subspace L2 argmin
    against the codebook, one matmul per subspace."""
    b, dim = v.shape
    m = books.shape[0]
    sub = v.reshape(b, m, dim // m)
    codes = np.empty((b, m), dtype=np.uint8)
    for s in range(m):
        x = sub[:, s, :]
        cb = books[s]
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
        d = -2.0 * (x @ cb.T) + (cb * cb).sum(axis=1)[None, :]
        codes[:, s] = d.argmin(axis=1).astype(np.uint8)
    return codes


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    sample_size: int = 10_000,
    seed: int = 42,
    corpus_rows: int | None = None,
) -> None:
    """Materialize an IVF-PQ index: the plain IVF layout
    (``vectors/`` + ``centroids/``, see ``build_ivf_index``) plus

    * ``codes/`` — (_id, _code binary[m]) parquet PARTITIONED BY cell:
      the m-byte probe payload, pruned exactly like ``vectors/``;
    * ``codebooks/`` — (sub, code, center) parquet, m·256 rows.

    Full vectors stay in the index solely as the re-rank side — the probe
    never scans them."""
    spark = corpus.sparkSession
    build_ivf_index(
        corpus,
        path,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        sample_size=sample_size,
        seed=seed,
        corpus_rows=corpus_rows,
    )
    books = train_pq_codebooks(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        sample_size=sample_size,
        seed=seed,
    )
    bc = spark.sparkContext.broadcast(books)
    vectors = spark.read.parquet(f"{path}/vectors")

    code_schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("_code", T.BinaryType(), False),
            T.StructField("cell", T.IntegerType(), False),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bks = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            codes = _encode_batch(v, bks)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "_code": [c.tobytes() for c in codes],
                    "cell": pdf["cell"].to_numpy().astype(np.int32),
                }
            )

    vectors.select("_id", "_v", F.col("cell").cast("int").alias("cell")).mapInPandas(
        enc, code_schema
    ).write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")

    cb_rows = [
        (s, c, [float(x) for x in books[s, c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(
        cb_rows, "sub int, code int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")

    # fitted-state quantization error: the baseline ivfpq_refit_needed's
    # codebook-drift check compares appended data against (r7)
    write_ivfpq_quant_baseline(spark, path)
    from rust_cdc_validator_spark.operators._memo import invalidate_index

    invalidate_index(path)


def _load_codebooks(spark, path: str) -> np.ndarray:
    pdf = (
        spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").toPandas()
    )
    m = int(pdf["sub"].max()) + 1
    n = int(pdf["code"].max()) + 1
    sub_dim = len(pdf["center"].iloc[0])
    books = np.zeros((m, n, sub_dim))
    for r in pdf.itertuples():
        books[r.sub, r.code] = np.asarray(r.center)
    return books


_ADC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("neighbor_id", T.LongType(), False),
        T.StructField("adc_score", T.DoubleType(), False),
    ]
)


def ivfpq_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 3,
    refine_factor: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """ANN top-k against an IVF-PQ index: partition-pruned CODES scan →
    per-cell ADC scoring → exact re-rank of the refine_factor·k candidate
    pool against full vectors. Returns (query_id, neighbor_id, cos_sim,
    rank) with EXACT cosine values (ADC only selects candidates)."""
    from rust_cdc_validator_spark.operators._memo import index_fact

    def load_centroids():
        pdf = (
            spark.read.parquet(f"{index_path}/centroids")
            .orderBy("cell")
            .toPandas()
        )
        c = np.stack(pdf["centroid"].to_numpy()).astype(np.float64)
        return c, spark.sparkContext.broadcast(c)

    _, bc_c = index_fact(spark, index_path, "ivfpq_centroids", load_centroids)
    bc_b = index_fact(
        spark,
        index_path,
        "ivfpq_codebooks",
        lambda: spark.sparkContext.broadcast(_load_codebooks(spark, index_path)),
    )

    qb = _assign_cells(
        queries, id_col, vec_col, bc_c, n_probe, np.float64, _assign_schema("float64")
    )
    probed = sorted(r["cell"] for r in qb.select("cell").distinct().collect())
    codes = (
        spark.read.parquet(f"{index_path}/codes")
        .filter(F.col("cell").isin(probed))
        .withColumn("cell", F.col("cell").cast("int"))
    )

    pool = refine_factor * k

    def adc(pdf: pd.DataFrame) -> pd.DataFrame:
        bks = bc_b.value
        m = bks.shape[0]
        qs = pdf[pdf["_code"].isna()]
        cs = pdf[pdf["_code"].notna()]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                {
                    "query_id": np.array([], dtype=np.int64),
                    "neighbor_id": np.array([], dtype=np.int64),
                    "adc_score": np.array([], dtype=np.float64),
                }
            )
        code_mat = np.stack(
            [np.frombuffer(b, dtype=np.uint8) for b in cs["_code"]]
        )  # (nc, m)
        ci = cs["_id"].to_numpy()
        out = []
        qv = np.stack(qs["_v"].to_numpy())  # (nq, dim)
        dim = qv.shape[1]
        sub = qv.reshape(len(qs), m, dim // m)
        qi = qs["_id"].to_numpy()
        # Blocked ADC: one einsum builds a block of LUTs, one fancy-index
        # gathers all m code columns for the whole block — no per-query
        # Python loop. Block size bounds the (qb, m, nc) gather temp.
        q_block = max(1, int(4_000_000 / max(len(ci), 1)))
        rows_m = np.arange(m)
        for start in range(0, len(qs), q_block):
            sb = sub[start : start + q_block]  # (qb, m, sub_dim)
            qib = qi[start : start + q_block]
            luts = np.einsum("qsd,scd->qsc", sb, bks)  # (qb, m, 256)
            # (qb, nc): sum over subspaces of LUT[code] per candidate
            scores = luts[:, rows_m[:, None], code_mat.T].sum(axis=1)
            if not include_self:
                scores[qib[:, None] == ci[None, :]] = -np.inf
            kk = min(pool, scores.shape[1])
            idx = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            s = np.take_along_axis(scores, idx, axis=1).ravel()
            sel = np.isfinite(s)
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(qib, kk)[sel],
                        "neighbor_id": ci[idx.ravel()][sel],
                        "adc_score": s[sel],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    q_rows = qb.select(
        "_id", "_v", "cell", F.lit(None).cast("binary").alias("_code")
    )
    c_rows = codes.select(
        "_id", F.lit(None).cast("array<double>").alias("_v"), "cell", "_code"
    )
    cands = (
        q_rows.unionByName(c_rows)
        .groupBy("cell")
        .applyInPandas(adc, _ADC_SCHEMA)
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("adc_score").alias("adc_score"))
    )

    # exact re-rank: candidates are queries·k·refine rows — join full
    # vectors (and query vectors) by 8-byte id, exact dot, window top-k
    # candidates only ever come from probed cells → partition-prune the
    # full-vector scan too before the id join (the join itself is narrow:
    # candidate count ∝ queries·k·refine, so AQE broadcasts that side)
    full = (
        spark.read.parquet(f"{index_path}/vectors")
        .filter(F.col("cell").isin(probed))
        .select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_nv"))
    )
    qv = _unit_vectors(queries, id_col, vec_col).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    paired = cands.join(full, "neighbor_id").join(qv, "query_id")
    scored = paired.select(
        "query_id",
        "neighbor_id",
        _dot_pdf(F.col("_qv"), F.col("_nv").cast("array<double>")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append vectors to a persisted IVF-PQ index without refitting either
    quantizer: coarse assignment against the stored centroids (full
    vectors appended for the re-rank side, same as
    ``similarity.append_to_ivf_index``) plus map-side PQ encoding against
    the STORED codebooks into ``codes/``. Cost ∝ |new_vectors|; no scan of
    the existing index.

    Same drift contract as the plain IVF append: codes stay exactly what a
    fresh build would produce GIVEN the same codebooks; what degrades as
    the corpus drifts from the fitted sample is quantization ERROR (ADC
    ranking noise — recoverable via ``refine_factor``) and cell balance
    (observable via ``similarity.ivf_cell_stats`` / ``ivf_refit_needed``,
    the cue to rebuild)."""
    from rust_cdc_validator_spark.operators.similarity import append_to_ivf_index

    spark = new_vectors.sparkSession
    before = spark.read.parquet(f"{path}/vectors").select("_id")
    new_ids = new_vectors.select(F.col(id_col).alias("_id"))
    appended_filter = new_ids.join(before, "_id", "left_anti")

    append_to_ivf_index(new_vectors, path, id_col=id_col, vec_col=vec_col)

    books = _load_codebooks(spark, path)
    bc = spark.sparkContext.broadcast(books)
    # encode exactly the rows just appended: re-read their (normalized,
    # assigned) form from the vectors layout so codes and vectors can never
    # disagree on normalization or cell
    fresh = (
        spark.read.parquet(f"{path}/vectors")
        .join(appended_filter, "_id", "left_semi")
        .select("_id", "_v", F.col("cell").cast("int").alias("cell"))
    )

    code_schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("_code", T.BinaryType(), False),
            T.StructField("cell", T.IntegerType(), False),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bks = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            codes = _encode_batch(v, bks)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "_code": [c.tobytes() for c in codes],
                    "cell": pdf["cell"].to_numpy().astype(np.int32),
                }
            )

    fresh.mapInPandas(enc, code_schema).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")


def ivfpq_quantization_error(
    spark, path: str, max_sample_rows: int = 2048
) -> float:
    """Mean squared PQ reconstruction residual ``||v − decode(code)||²``
    over a deterministic sample of the index — the quantization-error half
    of the IVF-PQ maintenance loop (cell balance is the other half).
    Appends encode against the ORIGINAL codebooks, so as the corpus drifts
    from the fitted sample this residual grows and ADC rankings get
    noisier; :func:`ivfpq_refit_needed` compares it to the build-time
    baseline stored in ``quant_stats/``.

    Cost: one narrow scan of ``codes/`` (TakeOrderedAndProject on the
    xxhash64 of the id — a top-k, not a sort), a broadcast semi-join of
    the ≤``max_sample_rows`` sampled ids against ``vectors/``, and a
    driver-side decode of the sample (≤ sample·dim floats)."""
    books = _load_codebooks(spark, path)
    codes = spark.read.parquet(f"{path}/codes").select("_id", "_code")
    samp_ids = (
        codes.withColumn("_h", F.xxhash64("_id"))
        .orderBy("_h", "_id")
        .limit(max_sample_rows)
        .select("_id", "_code")
    )
    vecs = spark.read.parquet(f"{path}/vectors").select("_id", "_v")
    pdf = samp_ids.join(vecs, "_id").toPandas()
    if pdf.empty:
        return 0.0
    v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
    raw = np.stack([np.frombuffer(c, dtype=np.uint8) for c in pdf["_code"]])
    m = books.shape[0]
    sub_dim = books.shape[2]
    recon = np.empty((len(pdf), m * sub_dim))
    for s in range(m):
        recon[:, s * sub_dim : (s + 1) * sub_dim] = books[s, raw[:, s]]
    resid = v - recon[:, : v.shape[1]]
    return float(np.mean(np.sum(resid * resid, axis=1)))


def write_ivfpq_quant_baseline(spark, path: str, max_sample_rows: int = 2048) -> float:
    """Record the build-time quantization error under ``quant_stats/`` so
    later drift probes have a fitted-state baseline. Called by
    :func:`build_ivfpq_index`; callable again after a refit."""
    mse = ivfpq_quantization_error(spark, path, max_sample_rows)
    spark.createDataFrame(
        [(float(mse), int(max_sample_rows))], "baseline_mse double, sample_rows int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/quant_stats")
    return mse


def ivfpq_refit_needed(
    spark,
    path: str,
    max_imbalance: float = 4.0,
    max_error_ratio: float = 1.5,
    abs_error_floor: float = 1e-3,
    max_sample_rows: int = 2048,
) -> bool:
    """Maintenance trigger for a standing IVF-PQ index — True when either
    degradation signal fires:

    * **cell imbalance** (coarse quantizer drift): largest cell exceeds
      ``max_imbalance`` × the mean population — the same signal as the
      plain-IVF ``similarity.ivf_refit_needed`` (probe cost is no longer
      ~|corpus|/n_cells);
    * **quantization-error growth** (codebook drift): the sampled mean ADC
      residual exceeds ``max(max_error_ratio × baseline, abs_error_floor)``
      with the build-time baseline from ``quant_stats/`` — appended
      vectors no longer resemble the sample the codebooks were fitted on,
      so ADC candidate ranking degrades even if cells stay balanced. The
      absolute floor handles a ZERO baseline (tiny corpora where 256
      codewords per subspace reconstruct the fit sample exactly — a pure
      ratio could never fire) and doubles as a noise gate for near-zero
      ones; residuals are on unit vectors, so 1e-3 ≪ any ranking-relevant
      error. Indexes built before the baseline existed skip this check
      (imbalance still applies).

    Bounded work: n_cells rows + the sampled residual probe.
    """
    from rust_cdc_validator_spark.operators.similarity import ivf_refit_needed

    if ivf_refit_needed(spark, path, max_imbalance=max_imbalance):
        return True
    try:
        base = spark.read.parquet(f"{path}/quant_stats").first()
    except AnalysisException:
        return False  # pre-r7 index: no baseline recorded (path missing);
        # real read errors (permissions, corruption) propagate — silently
        # disabling the drift check is how maintenance loops die
    if base is None or base["baseline_mse"] is None:
        return False
    current = ivfpq_quantization_error(spark, path, max_sample_rows)
    return current > max(
        max_error_ratio * float(base["baseline_mse"]), abs_error_floor
    )
