"""IVF-PQ (operators/pq.py): codebook training, encoding, ADC search.

Planted-cluster corpora make PQ recall deterministic: each vector sits in
a tight cluster, so its true nearest neighbor shares its cluster and both
the coarse quantizer and the PQ codes preserve the ordering ADC needs.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_cdc_validator_spark.operators.pq import (
    _encode_batch,
    _lloyd,
    build_ivfpq_index,
    ivfpq_topk_from_index,
    train_pq_codebooks,
)
from rust_cdc_validator_spark.operators.similarity import brute_force_topk

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _clustered(spark, n_clusters=6, per=12, dim=16, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.normal(scale=0.05, size=dim)
            rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
            i += 1
    return spark.createDataFrame(rows, _SCHEMA)


def test_lloyd_recovers_planted_centers():
    rng = np.random.default_rng(5)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [-10.0, 5.0]])
    x = np.vstack([c + rng.normal(scale=0.1, size=(50, 2)) for c in centers])
    got = _lloyd(x, 3, seed=1)
    got3 = got[:3]  # padded to N_CODES beyond the sample's support
    for c in centers:
        assert min(np.linalg.norm(got3 - c, axis=1)) < 0.5


def test_encode_batch_nearest_codeword():
    rng = np.random.default_rng(2)
    books = rng.normal(size=(2, 256, 4))
    v = books[0][17].tolist() + books[1][203].tolist()
    codes = _encode_batch(np.array([v]), books)
    assert codes.tolist() == [[17, 203]]
    assert codes.dtype == np.uint8


def test_codebooks_deterministic_and_shaped(spark):
    df = _clustered(spark)
    a = train_pq_codebooks(df, m=4, seed=7)
    b = train_pq_codebooks(df, m=4, seed=7)
    assert a.shape == (4, 256, 4)
    assert np.allclose(a, b)


@pytest.mark.parametrize("sample_size", [10_000, 300])
def test_codebooks_independent_of_partitioning(spark, sample_size):
    # 400 rows > 256 codes, so k-means++ seeding sees the row order; with
    # sample_size=300 the sample itself is drawn too
    df = _clustered(spark, n_clusters=8, per=50)
    one = train_pq_codebooks(
        df.repartition(1), m=4, sample_size=sample_size, seed=7
    )
    seven = train_pq_codebooks(
        df.repartition(7), m=4, sample_size=sample_size, seed=7
    )
    assert np.array_equal(one, seven)


def test_index_layout_and_code_bytes(spark, tmp_path):
    df = _clustered(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(df, path, n_cells=4, m=4)
    codes = spark.read.parquet(f"{path}/codes")
    rows = codes.collect()
    assert len(rows) == df.count()
    assert all(len(r["_code"]) == 4 for r in rows)  # m bytes per vector
    books = spark.read.parquet(f"{path}/codebooks")
    assert books.count() == 4 * 256


def test_probe_scan_prunes_to_probed_cells(spark, tmp_path):
    df = _clustered(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(df, path, n_cells=4, m=4)
    one_q = df.limit(1)
    res = ivfpq_topk_from_index(spark, path, one_q, k=1, n_probe=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the codes scan must carry a cell partition filter
    assert "PartitionFilters" in plan
    assert res.count() >= 1


def test_topk_matches_brute_force_on_clustered_data(spark, tmp_path):
    df = _clustered(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(df, path, n_cells=4, m=4)
    got = {
        r["query_id"]: (r["neighbor_id"], r["cos_sim"])
        for r in ivfpq_topk_from_index(
            spark, path, df, k=1, n_probe=4, refine_factor=8
        ).collect()
    }
    want = {
        r["query_id"]: (r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(df, df, k=1).collect()
    }
    assert set(got) == set(want)
    hits = sum(1 for q in want if got[q][0] == want[q][0])
    assert hits >= 0.95 * len(want)
    for q in want:
        if got[q][0] == want[q][0]:
            # re-rank reports EXACT cosine, not the ADC approximation
            assert got[q][1] == pytest.approx(want[q][1], abs=1e-9)


def test_refine_factor_buys_recall(spark, tmp_path):
    # near-uniform vectors: ADC ordering is noisy, so a bigger candidate
    # pool must never hurt and generally helps
    rng = np.random.default_rng(3)
    rows = [
        (i, (v / np.linalg.norm(v)).astype(np.float32).tolist())
        for i, v in enumerate(rng.normal(size=(150, 16)))
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    path = str(tmp_path / "idx")
    build_ivfpq_index(df, path, n_cells=2, m=4)
    want = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(df, df, k=1).collect()
    }

    def recall(rf):
        got = {
            r["query_id"]: r["neighbor_id"]
            for r in ivfpq_topk_from_index(
                spark, path, df, k=1, n_probe=2, refine_factor=rf
            ).collect()
        }
        return sum(1 for q in want if got.get(q) == want[q]) / len(want)

    r1, r16 = recall(1), recall(16)
    assert r16 >= r1
    assert r16 >= 0.9


def test_append_matches_fresh_build_given_same_quantizers(spark, tmp_path):
    from rust_cdc_validator_spark.operators.pq import append_to_ivfpq_index

    df = _clustered(spark, n_clusters=4, per=10)
    a = df.filter(F.col("vec_id") < 25)
    b = df.filter(F.col("vec_id") >= 25)
    path = str(tmp_path / "idx")
    build_ivfpq_index(a, path, n_cells=2, m=4)
    append_to_ivfpq_index(b, path)

    codes = spark.read.parquet(f"{path}/codes")
    vecs = spark.read.parquet(f"{path}/vectors")
    assert codes.count() == df.count() == vecs.count()

    # appended rows' codes must equal what the stored codebooks produce
    # from the stored (normalized) vectors — i.e. append ≡ encode-on-build
    from rust_cdc_validator_spark.operators.pq import _encode_batch, _load_codebooks
    import numpy as np

    books = _load_codebooks(spark, path)
    joined = (
        vecs.select("_id", "_v")
        .join(codes.select("_id", "_code"), "_id")
        .collect()
    )
    for r in joined:
        want = _encode_batch(
            np.array([r["_v"]], dtype=np.float64), books
        )[0].tobytes()
        assert r["_code"] == want

    # and the probe sees appended vectors as first-class neighbors
    res = ivfpq_topk_from_index(spark, path, b, k=1, n_probe=2, refine_factor=8)
    assert res.count() == b.count()


def test_refit_trigger_on_planted_codebook_drift(spark, tmp_path):
    """r7: the IVF-PQ maintenance loop. A fresh index reports a baseline
    quantization error and no refit need; appending a batch drawn from a
    DIFFERENT distribution (orthogonal subspace the codebooks never saw)
    inflates the sampled ADC residual past the ratio threshold and trips
    ivfpq_refit_needed — even when cell balance alone would not."""
    from rust_cdc_validator_spark.operators.pq import (
        ivfpq_quantization_error,
        ivfpq_refit_needed,
        append_to_ivfpq_index,
    )

    dim = 16
    path = str(tmp_path / "pqidx")
    corpus = _clustered(spark, n_clusters=4, per=24, dim=dim, seed=3)
    build_ivfpq_index(corpus, path, n_cells=4, m=4, seed=7)

    base = spark.read.parquet(f"{path}/quant_stats").first()
    assert base is not None and base["baseline_mse"] >= 0.0
    fresh_err = ivfpq_quantization_error(spark, path)
    assert fresh_err == pytest.approx(base["baseline_mse"], rel=1e-9)
    assert not ivfpq_refit_needed(spark, path, max_imbalance=50.0)

    # planted drift: vectors concentrated far from every fitted codeword
    # (alternating-sign ramp — nothing like the clustered gaussians)
    rng = np.random.default_rng(99)
    rows = []
    for j in range(96):
        v = np.array([(-1.0) ** i * (1.0 + i / dim) for i in range(dim)])
        v = v + rng.normal(scale=0.3, size=dim)
        rows.append((10_000 + j, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    drifted = spark.createDataFrame(rows, _SCHEMA)
    append_to_ivfpq_index(drifted, path)

    drifted_err = ivfpq_quantization_error(spark, path)
    assert drifted_err > 1.5 * base["baseline_mse"]
    assert ivfpq_refit_needed(spark, path, max_imbalance=50.0)
    # rebuilding (the cued action) restores a healthy baseline
    rebuilt = corpus.unionByName(drifted)
    build_ivfpq_index(rebuilt, path, n_cells=4, m=4, seed=7)
    assert not ivfpq_refit_needed(spark, path, max_imbalance=50.0)
