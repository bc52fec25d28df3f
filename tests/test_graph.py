"""PageRank properties: mass conservation, dangling handling, weight
sensitivity, determinism across partition layouts."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def edges(spark):
    # a -> b (heavy), a -> c (light), b -> c, d dangling (only a target)
    rows = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)]
    return spark.createDataFrame(rows, ["src", "dst", "w"])


def test_mass_conserved_and_positive(spark, edges):
    from pythonvectordb_spark.operators.graph import pagerank

    pr = pagerank(edges, weight_col="w").collect()
    total = sum(r["rank"] for r in pr)
    assert abs(total - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in pr)
    assert len(pr) == 4


def test_weights_steer_rank(spark, edges):
    from pythonvectordb_spark.operators.graph import pagerank

    ranks = {r["node"]: r["rank"] for r in pagerank(edges, weight_col="w").collect()}
    # b gets 3/4 of a's vote, c only 1/4 of it (plus b's and nothing else
    # upstream of similar size) — and d drains c entirely
    assert ranks["b"] > ranks["a"]
    assert ranks["d"] > ranks["c"] * 0.5  # dangling node still accumulates


def test_layout_independent(spark, edges):
    from pythonvectordb_spark.operators.graph import pagerank

    a = {r["node"]: round(r["rank"], 9) for r in pagerank(edges, weight_col="w").collect()}
    b = {
        r["node"]: round(r["rank"], 9)
        for r in pagerank(edges.repartition(5), weight_col="w").collect()
    }
    assert a == b


def test_unweighted_uniform_cycle(spark):
    from pythonvectordb_spark.operators.graph import pagerank

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    pr = pagerank(cyc).collect()
    for r in pr:
        assert abs(r["rank"] - 1.0 / 3) < 1e-9


def test_mutual_knn_degrees_reciprocity(spark):
    """Two tight 3-cliques far apart in direction + one outlier: within a
    clique everyone is mutual with everyone (degree 2 at k=2); the
    outlier picks neighbors but is nobody's top-2 -> degree 0."""
    import math

    from pythonvectordb_spark.operators.graph import mutual_knn_degrees
    from pythonvectordb_spark.operators.search import with_qvec

    def unit(theta):
        v = [math.cos(theta), math.sin(theta)] + [0.0] * 62
        return [float(x) for x in v]

    rows = [
        (1, unit(0.00)), (2, unit(0.02)), (3, unit(0.04)),      # clique A
        (11, unit(1.50)), (12, unit(1.52)), (13, unit(1.54)),   # clique B
        (99, unit(0.75)),                                        # equidistant outlier
    ]
    emb = with_qvec(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    got = {r.vec_id: r.mutual_degree for r in mutual_knn_degrees(emb, k=2).collect()}
    assert got[1] == got[2] == got[3] == 2
    assert got[11] == got[12] == got[13] == 2
    assert got[99] == 0
    assert len(got) == 7


def test_pair_graph_triangles_shapes(spark):
    """A 3-clique gives every member one triangle and coefficient 1; a
    star center has zero triangles and coefficient 0; a 4-clique member
    sits in C(3,2)=3 triangles with coefficient 1."""
    from pythonvectordb_spark.operators.graph import pair_graph_triangles

    pairs = spark.createDataFrame(
        # clique {1,2,3}; star 10-(11,12,13); clique {20,21,22,23}
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (10, 13)]
        + [(a, b) for a in (20, 21, 22, 23) for b in (20, 21, 22, 23) if a < b],
        "id_a long, id_b long",
    )
    out = {r["node"]: r.asDict() for r in pair_graph_triangles(pairs).collect()}
    assert out[1]["n_triangles"] == 1 and out[1]["clustering_coeff"] == 1.0
    assert out[10]["degree"] == 3 and out[10]["n_triangles"] == 0
    assert out[10]["clustering_coeff"] == 0.0
    assert out[11]["degree"] == 1 and out[11]["clustering_coeff"] == 0.0
    assert out[20]["degree"] == 3 and out[20]["n_triangles"] == 3
    assert out[20]["clustering_coeff"] == 1.0


def test_k_core_peels_chain_keeps_clique(spark):
    """A 4-clique survives 2-core peeling intact (core degree 3); a
    chain and a star peel away entirely, including the cascade where
    removing leaves strands the chain's middle."""
    from pythonvectordb_spark.operators.graph import k_core

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5; star 10-(11,12,13); clique {20,21,22,23}
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13)]
        + [(a, b) for a in (20, 21, 22, 23) for b in (20, 21, 22, 23) if a < b],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["core_degree"] for r in k_core(pairs, k=2, rounds=6).collect()}
    assert got == {20: 3, 21: 3, 22: 3, 23: 3}


def test_assortativity_star_vs_path(spark):
    """Every star edge joins the deg-4 hub to a deg-1 leaf, so endpoint
    degrees are perfectly anticorrelated: r = -1 exactly. A triangle is
    degree-regular (zero variance), so r is NULL."""
    from pythonvectordb_spark.operators.graph import assortativity

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "id_a long, id_b long"
    )
    (r,) = assortativity(star).collect()
    assert r["n_nodes"] == 5 and r["n_edges"] == 4
    assert r["assortativity"] == -1.0
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    (r,) = assortativity(tri).collect()
    assert r["n_nodes"] == 3 and r["n_edges"] == 3
    assert r["assortativity"] is None


def test_hits_two_node_chain(spark):
    """a->b: a is the only hub, b the only authority; scores stay 1
    after L1 normalization every round."""
    from pythonvectordb_spark.operators.graph import hits

    edges = spark.createDataFrame([("a", "b", 5.0)], "src string, dst string, w double")
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iterations=3).collect()}
    assert got["a"] == (1.0, 0.0)
    assert got["b"] == (0.0, 1.0)


def test_hits_star_graph(spark):
    """Three hubs pointing at one center: the center takes all the
    authority; equal-weight hubs split hub mass evenly."""
    from pythonvectordb_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("h1", "c", 1.0), ("h2", "c", 1.0), ("h3", "c", 1.0)],
        "src string, dst string, w double",
    )
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iterations=4).collect()}
    assert got["c"] == (0.0, 1.0)
    for h in ("h1", "h2", "h3"):
        assert abs(got[h][0] - round(1 / 3, 6)) < 1e-6 and got[h][1] == 0.0


def test_markov_stationary_two_state_chain(spark):
    """Deterministic 2-state chain a->b->a...: P is a perfect swap, so
    12 (even) rounds return the uniform start = the true stationary
    (0.5, 0.5)."""
    from pythonvectordb_spark.operators.graph import markov_stationary

    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "a" if i % 2 == 0 else "b")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_type: r for r in markov_stationary(df).collect()}
    assert abs(out["a"].stationary_p - 0.5) < 1e-6
    assert abs(out["b"].stationary_p - 0.5) < 1e-6
    assert out["a"].n_events == 10 and out["b"].n_events == 10


def test_hits_and_markov_refuse_inputs_over_the_node_gate(spark, monkeypatch):
    """Both normalize every round over a single-partition window, so a
    node or state count above `_SMALL_NODES` raises instead of running."""
    from pythonvectordb_spark.operators import graph

    monkeypatch.setattr(graph, "_SMALL_NODES", 2)
    star = spark.createDataFrame(
        [("h1", "c", 1.0), ("h2", "c", 1.0), ("h3", "c", 1.0)],
        "src string, dst string, w double",
    )
    with pytest.raises(ValueError, match=r"hits: 4 nodes exceed _SMALL_NODES=2"):
        graph.hits(star)
    monkeypatch.setattr(graph, "_SMALL_NODES", 1)
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "a" if i % 2 == 0 else "b")
        for i in range(20)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match=r"markov_stationary: 2 states exceed _SMALL_NODES=1"):
        graph.markov_stationary(events)


_EDGES = "src string, dst string, w double"
_EVENTS = "event_id long, ts timestamp, user_id long, event_type string"
_T0 = datetime(2024, 1, 1)
# one edge / one transition (a -> b): the schema the empty case must match
_ONE = {_EDGES: [("a", "b", 1.0)], _EVENTS: [(1, _T0, 1, "a"), (2, _T0, 1, "b")]}


@pytest.mark.parametrize(
    "op, schema, rows",
    [
        ("pagerank", _EDGES, []),
        ("hits", _EDGES, []),
        ("markov_stationary", _EVENTS, []),
        # events, but no user has two of them: no transitions, no states
        ("markov_stationary", _EVENTS, [(1, _T0, 1, "a"), (2, _T0, 2, "b")]),
    ],
    ids=["pagerank", "hits", "markov_stationary", "markov_no_transitions"],
)
def test_no_nodes_gives_typed_empty_result(spark, op, schema, rows):
    """A graph with no nodes (a chain with no states) returns the
    operator's output schema with 0 rows, not a ZeroDivisionError."""
    from pythonvectordb_spark.operators import graph

    fn = getattr(graph, op)
    want = fn(spark.createDataFrame(_ONE[schema], schema)).schema
    got = fn(spark.createDataFrame(rows, schema))
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want
    ]
    assert got.count() == 0


def test_adamic_adar_path_graph(spark):
    """Path 1-2-3: the only candidate is (1,3) through center 2
    (deg 2): AA = 1/ln(2), n_common 1, Jaccard 1/1 (N(1)={2},
    N(3)={2})."""
    import math

    from pythonvectordb_spark.operators.graph import adamic_adar_links

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    (r,) = adamic_adar_links(pairs).collect()
    assert (r.id_a, r.id_b, r.n_common) == (1, 3, 1)
    assert abs(r.adamic_adar - round(1.0 / math.log(2.0), 6)) < 1e-9
    assert r.neighborhood_jaccard == 1.0


def test_adamic_adar_excludes_existing_edges(spark):
    """Triangle 1-2-3: every pair is already an edge -> no candidates."""
    from pythonvectordb_spark.operators.graph import adamic_adar_links

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    assert adamic_adar_links(pairs).count() == 0


def test_mutual_knn_pairs_are_reciprocal_subset(spark):
    """Every mutual pair must appear in both directions of the top-k
    lists; degrees derived from pairs match mutual_knn_degrees."""
    from pythonvectordb_spark.operators.graph import (
        mutual_knn_degrees,
        mutual_knn_pairs,
    )
    from pythonvectordb_spark.registry import _emb

    emb = _emb(spark, "/root/testdata/sf0.001")
    pairs = mutual_knn_pairs(emb, k=5)
    deg_from_pairs = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("vec_id"))
        .groupBy("vec_id")
        .count()
        .collect()
    )
    deg_ref = {
        r.vec_id: r.mutual_degree
        for r in mutual_knn_degrees(emb, k=5).collect()
    }
    for r in deg_from_pairs:
        assert deg_ref[r.vec_id] == r["count"], r
