"""Persisted edge state (operators/graphstate.py): the *_from_state
variants must be VALUE-IDENTICAL to the direct operators on the same
input, the params/staleness surface must observe drift, and the state
must be readable by a fresh scan (parquet-dir portability, like the
MinHash/LSH indexes)."""

import pytest
from pyspark.sql import functions as F

from rust_cdc_validator_spark.operators.graph import (
    label_propagation,
    pagerank,
    shortest_hops,
)
from rust_cdc_validator_spark.operators.graphstate import (
    build_edge_state,
    edge_state_adjacency,
    edge_state_nodes,
    edge_state_params,
    edge_state_refit_needed,
    label_propagation_from_state,
    pagerank_from_state,
    shortest_hops_from_state,
)

pytestmark = pytest.mark.usefixtures("spark")


EDGES = [
    ("a", "b", 2.0),
    ("a", "c", 1.0),
    ("b", "c", 3.0),
    ("c", "d", 1.0),
    ("d", "e", 4.0),
    ("e", "f", 1.0),
    ("b", "a", 1.0),  # reversed duplicate: undirected build sums to 3.0
]


@pytest.fixture
def state_path(spark, tmp_path):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    path = str(tmp_path / "edge_state")
    build_edge_state(df, path, weight_col="w", directed=False, buckets=4)
    return path


def test_layout_params_and_adjacency(spark, state_path):
    p = edge_state_params(spark, state_path)
    assert p["directed"] is False and p["weighted"] is True
    assert p["buckets"] == 4
    # 6 canonical undirected edges, doubled
    assert p["n_edges"] == 12
    assert p["n_nodes"] == 6
    adj = edge_state_adjacency(spark, state_path)
    rows = {(r["src"], r["dst"]): (r["w"], r["p"]) for r in adj.collect()}
    assert len(rows) == 12
    # reversed duplicate summed: a-b weight = 3.0 in both directions
    assert rows[("a", "b")][0] == 3.0 and rows[("b", "a")][0] == 3.0
    # transition probs normalize per source
    by_src = {}
    for (s, _), (_, prob) in rows.items():
        by_src[s] = by_src.get(s, 0.0) + prob
    for s, total in by_src.items():
        assert total == pytest.approx(1.0, abs=1e-12), s
    nodes = {r["node"]: r for r in edge_state_nodes(spark, state_path).collect()}
    assert set(nodes) == {"a", "b", "c", "d", "e", "f"}
    # undirected: every node has both directions
    assert all(r["has_out"] == 1 and r["has_in"] == 1 for r in nodes.values())
    assert nodes["a"]["out_deg"] == 2 and nodes["a"]["out_w"] == 4.0


def test_pagerank_from_state_matches_direct(spark, state_path):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    # the direct operator over the SAME undirected doubled relation the
    # state stores (canonical sum, both directions)
    canon = (
        df.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    doubled = canon.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    direct = {
        r["node"]: r["rank"]
        for r in pagerank(doubled, weight_col="w", iterations=4).collect()
    }
    from_state = {
        r["node"]: r["rank"]
        for r in pagerank_from_state(spark, state_path, iterations=4).collect()
    }
    assert set(direct) == set(from_state)
    for n in direct:
        assert from_state[n] == pytest.approx(direct[n], abs=1e-12), n


def test_lpa_from_state_matches_direct(spark, state_path):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    direct = {
        r["node"]: r["label"]
        for r in label_propagation(df, iterations=3).collect()
    }
    from_state = {
        r["node"]: r["label"]
        for r in label_propagation_from_state(
            spark, state_path, iterations=3
        ).collect()
    }
    assert from_state == direct
    # convergence stats surface works over state too
    _, stats = label_propagation_from_state(
        spark, state_path, iterations=10, track_convergence=True,
        return_stats=True,
    )
    assert stats.iterations <= 10 and stats.changes[-1] == 0


def test_bfs_from_state_matches_direct(spark, state_path):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",)], "node string")
    direct = {
        r["node"]: r["hops"]
        for r in shortest_hops(df, seeds, max_hops=3, directed=False).collect()
    }
    from_state = {
        r["node"]: r["hops"]
        for r in shortest_hops_from_state(
            spark, state_path, seeds, max_hops=3
        ).collect()
    }
    assert from_state == direct
    assert from_state["a"] == 0 and from_state["e"] == 3


def test_directed_state(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "a")], "src string, dst string"
    )
    path = str(tmp_path / "directed_state")
    build_edge_state(df, path, directed=True, buckets=2)
    p = edge_state_params(spark, path)
    assert p["directed"] is True and p["weighted"] is False
    assert p["n_edges"] == 3  # self-loop kept for directed builds
    nodes = {r["node"]: r for r in edge_state_nodes(spark, path).collect()}
    assert nodes["c"]["has_out"] == 0  # dangling
    assert nodes["a"]["has_in"] == 1  # via the self-loop
    seeds = spark.createDataFrame([("a",)], "node string")
    hops = {
        r["node"]: r["hops"]
        for r in shortest_hops_from_state(spark, path, seeds, max_hops=3).collect()
    }
    assert hops == {"a": 0, "b": 1, "c": 2}
    # LPA refuses directed state loudly
    with pytest.raises(ValueError, match="undirected"):
        label_propagation_from_state(spark, path)
    # pagerank over directed state redistributes the dangling node's mass
    ranks = pagerank_from_state(spark, path, iterations=3)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_refit_needed_observes_drift(spark, state_path):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    assert edge_state_refit_needed(df, state_path, weight_col="w") is False
    grown = df.unionAll(
        spark.createDataFrame(
            [("f", "g", 1.0), ("g", "h", 1.0), ("h", "a", 1.0)],
            "src string, dst string, w double",
        )
    )
    # 6 -> 9 canonical edges = 50% drift > 10% default
    assert edge_state_refit_needed(grown, state_path, weight_col="w") is True
    assert (
        edge_state_refit_needed(grown, state_path, weight_col="w", max_drift=0.6)
        is False
    )


def test_validations(spark, state_path):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="buckets"):
        build_edge_state(df, "/tmp/never", buckets=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_from_state(spark, state_path, damping=1.5)
    with pytest.raises(ValueError, match="tol requires"):
        pagerank_from_state(spark, state_path, tol=1e-6, checkpoint=False)
    with pytest.raises(ValueError, match="track_convergence"):
        label_propagation_from_state(
            spark, state_path, track_convergence=True, checkpoint=False
        )
    with pytest.raises(ValueError, match="max_hops"):
        shortest_hops_from_state(
            spark, state_path, df.select(F.col("src").alias("node")), max_hops=-1
        )


def test_triangles_and_assortativity_from_state_match_direct(spark, tmp_path):
    """The state-backed triangle/assortativity variants read canonical
    pairs + degrees from the persisted layout and must equal the direct
    operators bit-for-bit (shared cores)."""
    from rust_cdc_validator_spark.operators.graph import (
        degree_assortativity,
        triangle_count,
    )
    from rust_cdc_validator_spark.operators.graphstate import (
        degree_assortativity_from_state,
        triangle_count_from_state,
    )

    # K4 + pendant + duplicate/reversed noise (triangle test's graph)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (1, 5), (3, 2), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    path = str(tmp_path / "cooccur_state")
    build_edge_state(df, path, directed=False, buckets=2)
    d_tri = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    s_tri = {
        r["node"]: r["triangles"]
        for r in triangle_count_from_state(spark, path).collect()
    }
    assert s_tri == d_tri == {1: 3, 2: 3, 3: 3, 4: 3}
    d_mix = degree_assortativity(df).first()
    s_mix = degree_assortativity_from_state(spark, path).first()
    assert s_mix.asDict() == d_mix.asDict()
    # directed state refused
    path2 = str(tmp_path / "cooccur_directed")
    build_edge_state(df, path2, directed=True, buckets=2)
    with pytest.raises(ValueError, match="undirected"):
        triangle_count_from_state(spark, path2)


def test_hits_from_state_equals_direct(spark, tmp_path):
    """On a bipartite build every node appears in the prefix-filtered
    direction, so the state path equals hits() on the same relation."""
    from rust_cdc_validator_spark.operators.graph import hits
    from rust_cdc_validator_spark.operators.graphstate import (
        build_edge_state,
        edge_state_adjacency,
        hits_from_state,
    )

    edges = [("c1", "s1", 3.0), ("c1", "s2", 1.0), ("c2", "s1", 2.0),
             ("c3", "s2", 1.0), ("c3", "s3", 4.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    path = str(tmp_path / "es")
    build_edge_state(df, path, weight_col="w", directed=False)
    adj = edge_state_adjacency(spark, path).filter(
        F.col("src").startswith("c")
    )
    direct = {r["node"]: (r["hub"], r["auth"])
              for r in hits(adj, weight_col="w", iterations=3).collect()}
    state = {r["node"]: (r["hub"], r["auth"])
             for r in hits_from_state(spark, path, "c", iterations=3).collect()}
    assert direct == state


# ---------------------------------------------------------------------------
# Harmonic closeness from pivots (r11)
# ---------------------------------------------------------------------------


def test_harmonic_closeness_matches_per_pivot_bfs(spark, state_path):
    """The one-pass labeled multi-source BFS must agree with running the
    plain BFS once per pivot and summing reciprocals by hand."""
    from rust_cdc_validator_spark.operators.graphstate import (
        harmonic_closeness_from_state,
    )

    pivots = ["a", "d"]
    pdf = spark.createDataFrame([(p,) for p in pivots], "node string")
    got = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_closeness_from_state(
            spark, state_path, pdf, max_hops=4
        ).collect()
    }
    # reference: per-pivot single-source BFS
    expected: dict[str, list[int]] = {}
    for p in pivots:
        seeds = spark.createDataFrame([(p,)], "node string")
        for r in shortest_hops_from_state(
            spark, state_path, seeds, max_hops=4
        ).collect():
            if r["hops"] > 0:
                expected.setdefault(r["node"], []).append(r["hops"])
    for node, dists in expected.items():
        want = (len(dists), sum(12 // d for d in dists) / 12.0)
        assert got[node] == want, (node, got[node], want)
    assert set(got) == set(expected)


def test_harmonic_closeness_pivot_excludes_self(spark, state_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        harmonic_closeness_from_state,
    )

    pdf = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["harmonic"]
        for r in harmonic_closeness_from_state(
            spark, state_path, pdf, max_hops=2
        ).collect()
    }
    # chain a-b(1) a-c(1) c-d(2); "a" itself (d=0) must not appear
    assert "a" not in got
    assert got["b"] == 1.0 and got["c"] == 1.0 and got["d"] == 0.5


# ------------------------------------------------ betweenness_from_state


def _brandes_reference(edges, pivots, max_hops):
    """Sequential horizon-bounded Brandes (2001) on an adjacency dict —
    the textbook stack/queue form, independent of the Spark shape."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    bc = defaultdict(float)
    support = defaultdict(int)
    for s in pivots:
        sigma = defaultdict(int)
        dist = {s: 0}
        sigma[s] = 1
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            if dist[v] == max_hops:
                continue
            for w in sorted(adj[v]):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in sorted(adj[w]):
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v == s:
                # Brandes never accumulates the source's own delta, and
                # the Spark shape likewise excludes level-0 rows
                continue
            support[v] += 1
            bc[v] += delta[v]
    return bc, support


def test_betweenness_matches_sequential_brandes(spark, tmp_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        betweenness_from_state,
    )

    # diamond + tail: two shortest paths a->d (via b and c), e hangs off d
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    path = str(tmp_path / "bw_state")
    build_edge_state(df, path, directed=False, buckets=2)
    pivots = spark.createDataFrame([("a",), ("e",)], "node string")

    got = {
        r["node"]: (r["betweenness"], r["n_pivots"])
        for r in betweenness_from_state(
            spark, path, pivots, max_hops=4
        ).collect()
    }
    ref_bc, ref_support = _brandes_reference(
        edges, ["a", "e"], max_hops=4
    )
    assert set(got) == set(ref_support)
    for node, (bc, n_piv) in got.items():
        assert n_piv == ref_support[node], node
        assert bc == pytest.approx(ref_bc[node], abs=1e-9), node
    # the split paths through b and c each carry half a dependency
    assert got["b"][0] == pytest.approx(got["c"][0])
    # d bridges everything: strictly the most between
    assert got["d"][0] > max(got["b"][0], got["a"][0], got["e"][0])


def test_betweenness_horizon_truncates_like_reference(spark, tmp_path):
    """Randomized graph, bounded horizon: the distributed two-pass must
    match sequential Brandes truncated at the same depth."""
    import random

    from rust_cdc_validator_spark.operators.graphstate import (
        betweenness_from_state,
    )

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(18)]
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(40)
        }
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    path = str(tmp_path / "bw_rand")
    build_edge_state(df, path, directed=False, buckets=2)
    piv = ["n0", "n3", "n7"]
    pivots = spark.createDataFrame([(p,) for p in piv], "node string")
    for hops in (1, 2, 3):
        got = {
            r["node"]: r["betweenness"]
            for r in betweenness_from_state(
                spark, path, pivots, max_hops=hops
            ).collect()
        }
        ref_bc, ref_support = _brandes_reference(edges, piv, max_hops=hops)
        assert set(got) == set(ref_support), hops
        for node, bc in got.items():
            assert bc == pytest.approx(ref_bc[node], abs=1e-9), (node, hops)


def test_betweenness_validates_hops(spark, state_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        betweenness_from_state,
    )

    pivots = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError):
        betweenness_from_state(spark, state_path, pivots, max_hops=0)


# --------------------------------------------------- advance_edge_state


def _state_relations(spark, path):
    adj = {
        (r["src"], r["dst"]): (r["w"], round(r["p"], 12))
        for r in edge_state_adjacency(spark, path).collect()
    }
    nodes = {
        r["node"]: (r["has_out"], r["has_in"], r["out_deg"], r["in_deg"], r["out_w"])
        for r in edge_state_nodes(spark, path).collect()
    }
    return adj, nodes


def test_advance_equals_rebuild_on_net_multiset(spark, tmp_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    base = [("a", "b", 2.0), ("b", "c", 3.0), ("c", "d", 1.0)]
    df = spark.createDataFrame(base, "src string, dst string, w double")
    p0 = str(tmp_path / "v0")
    build_edge_state(df, p0, weight_col="w", directed=False, buckets=2)

    # delta: strengthen a-b, retract c-d entirely, partially decrement
    # b-c, add brand-new d-e (new node e)
    delta = [
        ("a", "b", 1.5),
        ("d", "c", -1.0),   # reversed orientation still canonicalizes
        ("b", "c", -1.0),
        ("d", "e", 4.0),
    ]
    ddf = spark.createDataFrame(delta, "src string, dst string, w double")
    p1 = str(tmp_path / "v1")
    advance_edge_state(spark, p0, ddf, p1, weight_col="w")

    net = [("a", "b", 3.5), ("b", "c", 2.0), ("d", "e", 4.0)]
    ref = str(tmp_path / "ref")
    build_edge_state(
        spark.createDataFrame(net, "src string, dst string, w double"),
        ref, weight_col="w", directed=False, buckets=2,
    )

    assert _state_relations(spark, p1) == _state_relations(spark, ref)
    adv_params = edge_state_params(spark, p1)
    ref_params = edge_state_params(spark, ref)
    assert adv_params == ref_params
    # c-d fully retracted: edge gone from adj, d keeps only the new edge
    adj, nodes = _state_relations(spark, p1)
    assert ("c", "d") not in adj and ("d", "c") not in adj
    assert "e" in nodes


def test_advance_analytics_match_rebuild(spark, tmp_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    base = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)]
    df = spark.createDataFrame(base, "src string, dst string, w double")
    p0 = str(tmp_path / "v0")
    build_edge_state(df, p0, weight_col="w", directed=False, buckets=2)
    ddf = spark.createDataFrame(
        [("c", "d", 2.0)], "src string, dst string, w double"
    )
    p1 = str(tmp_path / "v1")
    advance_edge_state(spark, p0, ddf, p1, weight_col="w")
    ref = str(tmp_path / "ref")
    build_edge_state(
        spark.createDataFrame(
            base + [("c", "d", 2.0)], "src string, dst string, w double"
        ),
        ref, weight_col="w", directed=False, buckets=2,
    )
    got = {
        r["node"]: round(r["rank"], 12)
        for r in pagerank_from_state(spark, p1, iterations=3).collect()
    }
    want = {
        r["node"]: round(r["rank"], 12)
        for r in pagerank_from_state(spark, ref, iterations=3).collect()
    }
    assert got == want


def test_advance_unweighted_counts_and_same_path_guard(spark, tmp_path):
    import pytest as _pytest

    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c")], "src string, dst string"
    )
    p0 = str(tmp_path / "v0")
    build_edge_state(df, p0, directed=False, buckets=2)
    # unweighted state counts multiplicity: one more a-b co-occurrence
    ddf = spark.createDataFrame([("b", "a")], "src string, dst string")
    p1 = str(tmp_path / "v1")
    advance_edge_state(spark, p0, ddf, p1)
    adj, _ = _state_relations(spark, p1)
    assert adj[("a", "b")][0] == 3.0 and adj[("b", "c")][0] == 1.0

    with _pytest.raises(ValueError):
        advance_edge_state(spark, p0, ddf, p0 + "/")


def test_advance_property_random_deltas_equal_rebuild(spark, tmp_path):
    """Property: for randomized base edges and a randomized delta mixing
    increments, new edges, partial decrements, and exact retractions,
    advance(base, delta) == build(net multiset) across adjacency,
    transition probs, nodes, and params."""
    import random
    from collections import defaultdict

    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    rng = random.Random(99)
    nodes = [f"n{i}" for i in range(12)]
    net = defaultdict(float)
    base = []
    for _ in range(40):
        a, b = rng.sample(nodes, 2)
        w = float(rng.randint(1, 5))
        base.append((a, b, w))
        net[tuple(sorted((a, b)))] += w
    delta = []
    # increments + brand-new edges
    for _ in range(15):
        a, b = rng.sample(nodes + ["x1", "x2"], 2)
        w = float(rng.randint(1, 4))
        delta.append((a, b, w))
        net[tuple(sorted((a, b)))] += w
    # exact retractions of a few existing edges
    for pair in rng.sample([p for p in net if net[p] > 0], 4):
        delta.append((pair[0], pair[1], -net[pair]))
        net[pair] = 0.0
    # partial decrements
    for pair in rng.sample([p for p in net if net[p] > 1], 3):
        delta.append((pair[1], pair[0], -1.0))  # reversed orientation
        net[pair] -= 1.0

    p0, p1, ref = (str(tmp_path / n) for n in ("v0", "v1", "ref"))
    build_edge_state(
        spark.createDataFrame(base, "src string, dst string, w double"),
        p0, weight_col="w", directed=False, buckets=3,
    )
    advance_edge_state(
        spark, p0,
        spark.createDataFrame(delta, "src string, dst string, w double"),
        p1, weight_col="w",
    )
    net_rows = [(a, b, w) for (a, b), w in net.items() if w > 0]
    build_edge_state(
        spark.createDataFrame(net_rows, "src string, dst string, w double"),
        ref, weight_col="w", directed=False, buckets=3,
    )
    assert _state_relations(spark, p1) == _state_relations(spark, ref)
    assert edge_state_params(spark, p1) == edge_state_params(spark, ref)
    # the scenario really contained every delta class
    assert any(w < 0 for _, _, w in delta) and any(
        net[p] == 0 for p in net
    )


def test_advance_same_path_guard_normalizes_separator_runs(spark, tmp_path):
    """The same-version guard must catch ANY spelling of the same path —
    '///' runs and '.'/'..' segments included (a single '//' replace
    missed '/tmp///s' vs '/tmp/s', letting an advance overwrite the
    state it reads)."""
    from rust_cdc_validator_spark.operators._memo import _norm_path
    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    p0 = str(tmp_path / "v0")
    build_edge_state(df, p0, directed=False, buckets=2)
    ddf = spark.createDataFrame([("b", "c")], "src string, dst string")
    for alias in (
        p0 + "///",
        p0.replace("/v0", "///v0"),
        p0 + "/./",
        p0 + "/sub/..",
    ):
        with pytest.raises(ValueError, match="NEW state version"):
            advance_edge_state(spark, p0, ddf, alias)
    # scheme-qualified paths keep their authority intact
    assert _norm_path("s3://bucket/state/") == "s3://bucket/state"


def test_weighted_paths_from_state_rejects_nonpositive_weights(
    spark, tmp_path
):
    """build_edge_state does not filter negative net weights, so the
    from-state SSSP must enforce the same guard weighted_shortest_paths
    does — and inverse_weight needs strictly positive w (1/w length)."""
    from rust_cdc_validator_spark.operators.graphstate import (
        weighted_paths_from_state,
    )

    seeds = spark.createDataFrame([("a",)], "node string")

    neg = str(tmp_path / "neg_state")
    build_edge_state(
        spark.createDataFrame(
            [("a", "b", 2.0), ("b", "c", -1.0)],
            "src string, dst string, w double",
        ),
        neg, weight_col="w", directed=False, buckets=2,
    )
    with pytest.raises(ValueError, match="non-negative"):
        weighted_paths_from_state(spark, neg, seeds, max_hops=3)

    # net-zero weight (every endpoint keeps other positive edges so the
    # build's transition probs stay defined): fine for direct lengths,
    # rejected for 1/w
    zero = str(tmp_path / "zero_state")
    build_edge_state(
        spark.createDataFrame(
            [
                ("a", "b", 1.0),
                ("a", "b", -1.0),
                ("b", "c", 1.0),
                ("a", "d", 1.0),
            ],
            "src string, dst string, w double",
        ),
        zero, weight_col="w", directed=False, buckets=2,
    )
    ok = {
        r["node"]: r["dist"]
        for r in weighted_paths_from_state(
            spark, zero, seeds, max_hops=3
        ).collect()
    }
    assert ok["b"] == 0.0 and ok["c"] == 1.0  # zero-length a-b edge walked
    with pytest.raises(ValueError, match="strictly positive"):
        weighted_paths_from_state(
            spark, zero, seeds, max_hops=3, inverse_weight=True
        )

    # a healthy state still answers (guard is one MIN aggregate)
    good = str(tmp_path / "good_state")
    build_edge_state(
        spark.createDataFrame(
            [("a", "b", 2.0), ("b", "c", 4.0)],
            "src string, dst string, w double",
        ),
        good, weight_col="w", directed=False, buckets=2,
    )
    got = {
        r["node"]: r["dist"]
        for r in weighted_paths_from_state(
            spark, good, seeds, max_hops=3, inverse_weight=True
        ).collect()
    }
    assert got == {"a": 0.0, "b": 0.5, "c": 0.75}


def test_advance_rewrites_only_touched_buckets(spark, tmp_path):
    """Bucket-selective advance: untouched buckets are CARRIED as file
    references in the new version's adj manifest — the parent's files,
    byte-identical, zero bytes rewritten (the state.py manifest-chain
    discipline). Only delta-touched buckets get new data files."""
    import json
    import pathlib

    from rust_cdc_validator_spark.operators.graphstate import (
        _load_adj_manifest,
        _resolve_adj_entry,
        advance_edge_state,
    )
    from rust_cdc_validator_spark.operators.state import bucket_id

    # many distinct srcs so every bucket is populated
    base = [(f"n{i}", f"n{(i + 1) % 24}", float(1 + i % 3)) for i in range(24)]
    df = spark.createDataFrame(base, "src string, dst string, w double")
    p0 = str(tmp_path / "v0")
    build_edge_state(df, p0, weight_col="w", directed=False, buckets=8)

    m0 = _load_adj_manifest(spark, p0)
    assert m0 is not None and m0["n_buckets"] == 8
    before = {
        rel: pathlib.Path(_resolve_adj_entry(p0, rel)).read_bytes()
        for files in m0["buckets"].values()
        for rel in files
    }

    delta = [("n0", "n1", 2.0)]
    ddf = spark.createDataFrame(delta, "src string, dst string, w double")
    p1 = str(tmp_path / "v1")
    advance_edge_state(spark, p0, ddf, p1, weight_col="w")

    # which buckets SHOULD the undirected delta touch (both directions)
    exp_touched = {
        r["_b"]
        for r in spark.createDataFrame(
            [("n0",), ("n1",)], "src string"
        ).select(bucket_id(["src"], 8).cast("int").alias("_b")).collect()
    }
    m1 = _load_adj_manifest(spark, p1)
    own_prefix = "adj/"
    for b, files in m1["buckets"].items():
        if b in exp_touched:
            for rel in files:
                assert rel.startswith(own_prefix), (b, rel)  # new data
        else:
            for rel in files:
                resolved = _resolve_adj_entry(p1, rel)
                # carried reference points INTO the parent version…
                assert resolved.startswith(p0), (b, rel)
                # …and the parent file is byte-identical (never rewritten)
                parent_rel = resolved[len(p0) + 1:]
                assert (
                    pathlib.Path(resolved).read_bytes()
                    == before[parent_rel]
                ), (b, rel)
    assert exp_touched  # the scenario exercised the selective path

    # the parent's own files never changed on disk
    for rel, data in before.items():
        assert pathlib.Path(_resolve_adj_entry(p0, rel)).read_bytes() == data

    # manifest JSON is the commit record; paths resolve through the API
    raw = json.loads(
        pathlib.Path(p1, "adj_manifest.json").read_text()
    )
    assert set(raw["buckets"]) == {str(b) for b in range(8)}


def _py_hll_index_rank(value: str, p: int = 6):
    """Python twin of sketch.hll_index_rank over _h60's md5 hash."""
    import hashlib

    h = int(hashlib.md5(value.encode()).hexdigest()[:15], 16)
    tail = 60 - p
    idx = h >> tail
    w = h & ((1 << tail) - 1)
    rho = (tail + 1) if w == 0 else tail - (w.bit_length() - 1)
    return idx, rho


def _py_nf_estimate(members: set[str], p: int = 6) -> float:
    """Python twin of the per-node HyperBall estimate: exact scaled
    harmonic sum over the ball's register set."""
    import math

    m = 1 << p
    regs = {}
    for v in members:
        idx, rho = _py_hll_index_rank(v, p)
        regs[idx] = max(regs.get(idx, 0), rho)
    tail1 = 60 - p + 1
    s_scaled = sum(1 << (tail1 - r) for r in regs.values())
    nz = len(regs)
    s = s_scaled / float(1 << tail1) + (m - nz) * 1.0
    raw = 0.709 * m * m / s
    zeros = m - nz
    if raw <= 2.5 * m and zeros > 0:
        return float(m) * math.log(float(m) / zeros)
    return raw


def test_neighborhood_function_matches_python_hyperball(spark, tmp_path):
    from collections import defaultdict

    from rust_cdc_validator_spark.operators.graphstate import (
        build_edge_state,
        neighborhood_function_from_state,
    )

    # two components: a 6-cycle and a 3-path (different growth curves)
    cyc = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]
    pth = [("p0", "p1"), ("p1", "p2")]
    df = spark.createDataFrame(cyc + pth, "src string, dst string")
    path = str(tmp_path / "nf_state")
    build_edge_state(df, path, buckets=2)
    got = {
        r["radius"]: r
        for r in neighborhood_function_from_state(
            spark, path, horizon=3, p=6
        ).collect()
    }
    # python reference: exact balls per node, HLL-estimated, summed
    adj = defaultdict(set)
    for a, b in cyc + pth:
        adj[a].add(b)
        adj[b].add(a)
    nodes = set(adj)
    for r in range(4):
        balls = []
        for v in nodes:
            ball = {v}
            for _ in range(r):
                ball = ball | {u for x in ball for u in adj[x]}
            balls.append(round(_py_nf_estimate(ball), 6))
        want = round(sum(balls), 6)
        assert got[r]["nf_est"] == pytest.approx(want, abs=1e-5), r
        assert got[r]["n_nodes"] == 9
    # curve is monotone, horizon coverage is exactly 1
    assert (
        got[0]["nf_est"] <= got[1]["nf_est"] <= got[2]["nf_est"]
        <= got[3]["nf_est"]
    )
    assert got[3]["coverage"] == 1.0
    with pytest.raises(ValueError, match="horizon"):
        neighborhood_function_from_state(spark, path, horizon=-1)
    with pytest.raises(ValueError, match="p must"):
        neighborhood_function_from_state(spark, path, p=3)


def test_hyperball_harmonic_ranks_hubs(spark, tmp_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        build_edge_state,
        hyperball_harmonic_from_state,
    )

    # star: hub reaches everything at r=1; leaves need 2 hops
    edges = [("hub", f"leaf{i}") for i in range(8)]
    df = spark.createDataFrame(edges, "src string, dst string")
    path = str(tmp_path / "hb_state")
    build_edge_state(df, path, buckets=2)
    got = {
        r["node"]: r["harmonic_approx"]
        for r in hyperball_harmonic_from_state(
            spark, path, horizon=2, p=8
        ).collect()
    }
    assert len(got) == 9
    assert max(got, key=got.get) == "hub"
    leaves = [v for k, v in got.items() if k != "hub"]
    # every leaf has the same ball structure -> identical approximations
    assert len(set(leaves)) == 1
    # hub ~ 8/1; leaf ~ 1/1 + 7/2 = 4.5 (sketch noise at p=8 is a few %)
    assert got["hub"] == pytest.approx(8.0, rel=0.2)
    assert leaves[0] == pytest.approx(4.5, rel=0.2)
    with pytest.raises(ValueError, match="horizon"):
        hyperball_harmonic_from_state(spark, path, horizon=0)


def test_edge_state_diff_all_statuses(spark, tmp_path):
    from rust_cdc_validator_spark.operators.graphstate import (
        advance_edge_state,
        build_edge_state,
        edge_state_diff,
    )

    base = str(tmp_path / "diff_base")
    build_edge_state(
        spark.createDataFrame(
            [("a", "b", 1.0), ("a", "c", 2.0), ("b", "c", 3.0)],
            "src string, dst string, w double",
        ),
        base,
        weight_col="w",
        buckets=2,
    )
    adv = str(tmp_path / "diff_adv")
    # delta: bump a-b, retract b-c entirely, add c-d
    advance_edge_state(
        spark,
        base,
        spark.createDataFrame(
            [("a", "b", 4.0), ("b", "c", -3.0), ("c", "d", 7.0)],
            "src string, dst string, w double",
        ),
        adv,
        weight_col="w",
    )
    d = {
        (r["src"], r["dst"]): r
        for r in edge_state_diff(spark, base, adv).collect()
    }
    # direction-expanded: check the canonical direction rows
    assert d[("a", "b")]["status"] == "changed"
    assert (d[("a", "b")]["w_before"], d[("a", "b")]["w_after"]) == (1.0, 5.0)
    assert d[("a", "c")]["status"] == "unchanged"
    assert d[("b", "c")]["status"] == "removed"
    assert d[("b", "c")]["w_after"] is None
    assert d[("c", "d")]["status"] == "added"
    assert d[("c", "d")]["w_before"] is None
    # both directions carry the same verdicts
    assert d[("b", "a")]["status"] == "changed"
    assert d[("d", "c")]["status"] == "added"
