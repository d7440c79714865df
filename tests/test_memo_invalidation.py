"""r12 optimization: the per-path driver-fact memo (operators/_memo.py,
shared by the ANN indexes and the graph edge state) must serve cached
facts across repeated query executions AND drop them when the artifact under the path is
rebuilt — a stale params row or min-weight guard silently changes
results, so invalidation is the load-bearing half of the optimization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators import graphstate
from rust_cdc_validator_spark.operators._memo import (
    _CACHE,
    _norm_path,
    index_fact,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_edge_state_params_memo_and_rebuild_invalidation(spark, tmp_path):
    path = str(tmp_path / "state")
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0)]), path, weight_col="w", buckets=2
    )
    p1 = graphstate.edge_state_params(spark, path)
    assert p1["buckets"] == 2
    # cached: mutate the cache entry and confirm the public reader serves
    # a COPY (callers can't poison the memo) while the memo itself is hit
    p1["buckets"] = 99
    assert graphstate.edge_state_params(spark, path)["buckets"] == 2
    # rebuild in place with different geometry -> the memo must drop
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0), ("b", "c", 2.0)]),
        path,
        weight_col="w",
        buckets=3,
    )
    p2 = graphstate.edge_state_params(spark, path)
    assert p2["buckets"] == 3 and p2["n_edges"] == 4


def test_min_weight_guard_memo_invalidated_by_rebuild(spark, tmp_path):
    path = str(tmp_path / "state")
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", -1.0)]), path, weight_col="w", buckets=2
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="non-negative"):
        graphstate.weighted_paths_from_state(spark, path, seeds, max_hops=2)
    # rebuild with positive weights at the SAME path: the memoized min(w)
    # must not keep raising
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0)]), path, weight_col="w", buckets=2
    )
    out = graphstate.weighted_paths_from_state(spark, path, seeds, max_hops=2)
    assert {r["node"]: r["dist"] for r in out.collect()}["b"] == 1.0


def test_index_fact_keys_on_app_and_invalidates(spark, tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    assert index_fact(spark, "/x", "k", compute) == 1
    assert index_fact(spark, "/x", "k", compute) == 1  # memo hit
    from rust_cdc_validator_spark.operators._memo import invalidate_index

    invalidate_index("/x")
    assert index_fact(spark, "/x", "k", compute) == 2  # recomputed
    # key includes the application id -> no cross-context leakage
    app = spark.sparkContext.applicationId
    assert any(k[0] == app and k[1] == "/x" for k in _CACHE)


def test_lsh_index_params_follow_rebuild(spark, tmp_path):
    from rust_cdc_validator_spark.operators.similarity import (
        _lsh_index_params,
        build_lsh_index,
    )

    vecs = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "lsh")
    build_lsh_index(vecs, path, dim=8, num_planes=3, num_tables=2, seed=7)
    assert _lsh_index_params(spark, path) == (8, 3, 2, 7)
    build_lsh_index(vecs, path, dim=8, num_planes=4, num_tables=2, seed=9)
    assert _lsh_index_params(spark, path) == (8, 4, 2, 9)


def test_pivot_bfs_cache_invalidated_by_rebuild(spark, tmp_path):
    """r13 (r12 VERDICT #2): an in-place rebuild must drop the memoized
    pivot-BFS level relations — otherwise closeness/betweenness serve the
    OLD graph's levels."""
    path = str(tmp_path / "state")
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0)]), path, weight_col="w", buckets=2
    )
    pivots = spark.createDataFrame([("a",)], "node string")
    out1 = graphstate.harmonic_closeness_from_state(
        spark, path, pivots, max_hops=3
    )
    reached1 = {r["node"] for r in out1.collect()}
    assert reached1 == {"b"}
    # rebuild IN PLACE with a longer chain: the cached levels must go
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0), ("b", "c", 1.0)]),
        path,
        weight_col="w",
        buckets=2,
    )
    out2 = graphstate.harmonic_closeness_from_state(
        spark, path, pivots, max_hops=3
    )
    got = {r["node"]: r["harmonic"] for r in out2.collect()}
    assert set(got) == {"b", "c"}  # c is reachable only in the NEW graph
    assert got["c"] == 0.5


def test_nf_registers_cache_invalidated_by_rebuild(spark, tmp_path):
    """Same contract for the HyperBall lane-register memo: the
    neighborhood function must recompute from the rebuilt state."""
    path = str(tmp_path / "state")
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0)]), path, weight_col="w", buckets=2
    )
    c1 = {
        r["radius"]: r["n_nodes"]
        for r in graphstate.neighborhood_function_from_state(
            spark, path, horizon=2
        ).collect()
    }
    assert c1[0] == 2  # a, b
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)]),
        path,
        weight_col="w",
        buckets=2,
    )
    c2 = {
        r["radius"]: r["n_nodes"]
        for r in graphstate.neighborhood_function_from_state(
            spark, path, horizon=2
        ).collect()
    }
    assert c2[0] == 4  # a..d — stale registers would still say 2


def test_encoded_graph_artifacts_invalidated_by_rebuild(spark, tmp_path):
    """The long-encoded dict/adjacency are memoized in operators/_memo
    under the current application and never written next to the state —
    an in-place rebuild must drop the memo, or the superstep family
    serves the OLD graph's encoding."""
    import os

    path = str(tmp_path / "state")
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0)]), path, weight_col="w", buckets=2
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    h1 = {
        r["node"]: r["hops"]
        for r in graphstate.shortest_hops_from_state(
            spark, path, seeds, max_hops=3
        ).collect()
    }
    assert h1 == {"a": 0, "b": 1}
    # the params fact and the encoded dict sit in the app-scoped memo
    app = spark.sparkContext.applicationId
    norm = _norm_path(path)
    assert (app, norm, "params") in _CACHE
    assert (app, norm, "enc_dict") in _CACHE
    # nothing derived is written next to the state
    assert not os.path.exists(os.path.join(path, "derived"))
    # rebuild IN PLACE with a longer chain: memo + artifacts must go
    graphstate.build_edge_state(
        _edges(spark, [("a", "b", 1.0), ("b", "c", 1.0)]),
        path,
        weight_col="w",
        buckets=2,
    )
    h2 = {
        r["node"]: r["hops"]
        for r in graphstate.shortest_hops_from_state(
            spark, path, seeds, max_hops=3
        ).collect()
    }
    assert h2 == {"a": 0, "b": 1, "c": 2}  # c exists only in the NEW graph
