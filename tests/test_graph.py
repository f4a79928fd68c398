"""PageRank centrality: golden values, conservation, dangling mass,
determinism, and edge-builder correctness."""

import pytest
from pyspark.sql import functions as F

from biomedical_data_integration_spark.operators.graph import (
    pagerank,
    token_adjacency_edges,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, weight bigint")


def test_token_adjacency_edges(spark):
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "b c"), (2, "solo")],
        "doc_id bigint, text string",
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in token_adjacency_edges(df).collect()
    }
    # "a b a b" -> ab, ba, ab ; "b c" -> bc ; "solo" contributes nothing
    assert got == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}


def _py_pagerank(edges, iterations, d=0.85, scale=10):
    """Independent driver replay with the same floor quantization."""
    import math

    m = float(10 ** scale)
    q = lambda x: math.floor(x * m + 0.5) / m  # noqa: E731
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + float(w)
    trans = [(s, t, float(w) / outw[s]) for s, t, w in edges]
    rank = {v: q(1.0 / n) for v in nodes}
    tele = (1.0 - d) / n
    for _ in range(iterations):
        dm = sum(rank[v] for v in nodes if v not in outw)
        inflow = {}
        for s, t, p in trans:
            inflow[t] = inflow.get(t, 0.0) + rank[s] * p
        rank = {
            v: q(tele + d * (inflow.get(v, 0.0) + dm / n))
            for v in nodes
        }
    return rank


def test_pagerank_matches_replay_and_conserves_mass(spark):
    rows = [
        ("a", "b", 2), ("a", "c", 1), ("b", "c", 1),
        ("c", "a", 1), ("d", "a", 3),  # d has in-degree 0 elsewhere
    ]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, rows), iterations=4).collect()
    }
    assert out == pytest.approx(_py_pagerank(rows, 4), abs=1e-9)
    # teleport + dangling redistribution conserve total rank mass
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_dangling_node_redistributes(spark):
    # b is dangling (no out-edges): its mass must not vanish
    rows = [("a", "b", 1)]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, rows), iterations=3).collect()
    }
    assert set(out) == {"a", "b"}
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-6)
    assert out["b"] > out["a"]  # everything a has flows to b


def test_pagerank_star_center_dominates(spark):
    rows = [(s, "hub", 1) for s in ("s1", "s2", "s3", "s4")]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, rows), iterations=3).collect()
    }
    assert all(out["hub"] > out[s] for s in ("s1", "s2", "s3", "s4"))


def test_pagerank_zero_iterations_is_uniform(spark):
    rows = [("a", "b", 1), ("b", "a", 1)]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, rows), iterations=0).collect()
    }
    assert out == {"a": 0.5, "b": 0.5}


def test_pagerank_rejects_bad_args(spark):
    e = _edges(spark, [("a", "b", 1)])
    with pytest.raises(ValueError, match="iterations"):
        pagerank(e, iterations=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.5)


def test_label_propagation_two_cliques(spark):
    from biomedical_data_integration_spark.operators.graph import (
        label_propagation,
    )

    # two triangles bridged by one weak edge: communities must separate
    rows = [
        ("a1", "a2", 5), ("a2", "a3", 5), ("a1", "a3", 5),
        ("b1", "b2", 5), ("b2", "b3", 5), ("b1", "b3", 5),
        ("a3", "b1", 1),
    ]
    e = spark.createDataFrame(rows, "src string, dst string, weight bigint")
    out = {
        r["node"]: r["label"]
        for r in label_propagation(e, iterations=4).collect()
    }
    a_labels = {out["a1"], out["a2"], out["a3"]}
    b_labels = {out["b1"], out["b2"], out["b3"]}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_label_propagation_isolated_and_zero_iters(spark):
    from biomedical_data_integration_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame(
        [("x", "y", 1)], "src string, dst string, weight bigint"
    )
    out0 = {
        r["node"]: r["label"]
        for r in label_propagation(e, iterations=0).collect()
    }
    assert out0 == {"x": "x", "y": "y"}
    # one round on a single undirected edge: each adopts the neighbor
    out1 = {
        r["node"]: r["label"]
        for r in label_propagation(e, iterations=1).collect()
    }
    assert out1 == {"x": "y", "y": "x"}


def test_label_propagation_deterministic_tiebreak(spark):
    from biomedical_data_integration_spark.operators.graph import (
        label_propagation,
    )

    # c has equal-weight neighbors a and b: smaller label (a) must win
    e = spark.createDataFrame(
        [("a", "c", 2), ("b", "c", 2)],
        "src string, dst string, weight bigint",
    )
    out = {
        r["node"]: r["label"]
        for r in label_propagation(e, iterations=1).collect()
    }
    assert out["c"] == "a"


def test_connected_components_graph_face(spark):
    from biomedical_data_integration_spark.operators.graph import (
        connected_components,
    )

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("x", "y", 1)],
        "src string, dst string, weight bigint",
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge_lists = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1, max_size=10,
).map(lambda es: [(s, t, w) for s, t, w in es if s != t])


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists, iters=st.integers(min_value=1, max_value=3))
def test_pagerank_property_replay_and_mass(spark, edges, iters):
    """For arbitrary small graphs: Spark pagerank equals the independent
    driver replay exactly, and total mass stays 1 (quantization noise
    bounded by nodes * 10^-RANK_SCALE)."""
    if not edges:
        return
    # merge duplicate edges like token_adjacency_edges would
    agg = {}
    for s, t, w in edges:
        agg[(s, t)] = agg.get((s, t), 0) + w
    rows = [(s, t, w) for (s, t), w in agg.items()]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, rows), iterations=iters).collect()
    }
    replay = _py_pagerank(rows, iters)
    assert out == replay
    assert abs(sum(out.values()) - 1.0) < len(out) * 1e-9 + 1e-6


def test_triangle_counts_golden(spark):
    from biomedical_data_integration_spark.operators.graph import (
        triangle_counts,
    )

    # K4 on {a,b,c,d} plus a pendant node e attached to a; directions
    # and duplicate/reverse edges must not matter
    edges = [
        ("a", "b", 1), ("b", "a", 9),  # duplicate reverse edge
        ("a", "c", 1), ("a", "d", 1),
        ("b", "c", 1), ("b", "d", 1), ("c", "d", 1),
        ("a", "e", 1), ("e", "e", 1),  # self-loop dropped
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight bigint")
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(df).collect()
    }
    # K4: each of a-d is in 3 triangles; a additionally has degree 4
    assert got["b"] == (3, 3, 1.0)
    assert got["c"] == (3, 3, 1.0)
    assert got["d"] == (3, 3, 1.0)
    assert got["a"][0] == 4 and got["a"][1] == 3
    assert got["a"][2] == 0.5          # 2*3 / (4*3)
    assert got["e"] == (1, 0, 0.0)     # pendant: degree<2


def _chain_graph(spark):
    # a 7-node path with a back edge and a branch, so every BFS hop up to
    # 5 finds a new frontier
    return _edges(spark, [
        ("a", "b", 1), ("b", "c", 2), ("c", "d", 1), ("d", "e", 1),
        ("e", "f", 3), ("f", "g", 1), ("g", "c", 1), ("b", "h", 1),
    ])


def _blobs(spark, centers, per):
    rows = [
        (i, [cx + 0.1 * (i % per), cy - 0.1 * (i % per)])
        for i, (cx, cy) in enumerate(c for c in centers for _ in range(per))
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def _kmeans_parallel(spark):
    from biomedical_data_integration_spark.operators.clustering import kmeans

    df = _blobs(spark, [(0.0, 0.0), (50.0, 50.0), (-50.0, 50.0)], 8)
    return kmeans(df, k=3, max_iter=1, init="parallel")[0]


def _kmeans_two_level(spark):
    from biomedical_data_integration_spark.operators.clustering import (
        kmeans_two_level,
    )

    centers = [(x, y) for x in (0.0, 100.0) for y in (0.0, 10.0)]
    return kmeans_two_level(_blobs(spark, centers, 4), k1=4, k2=4)


def _bfs(spark):
    from biomedical_data_integration_spark.operators.graph import bfs_distances

    seeds = spark.createDataFrame([("a",)], "node string")
    return bfs_distances(_chain_graph(spark), seeds, max_hops=5)


def _lpa(spark):
    from biomedical_data_integration_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(_chain_graph(spark), iterations=5)


RELEASE_CALLS = {
    "kmeans_parallel": _kmeans_parallel,
    "kmeans_two_level": _kmeans_two_level,
    "bfs_distances": _bfs,
    "label_propagation": _lpa,
    "pagerank": lambda spark: pagerank(_chain_graph(spark), iterations=5),
}


def _logical_rdd_ids(df):
    leaves = df._jdf.logicalPlan().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


@pytest.mark.parametrize("name", sorted(RELEASE_CALLS))
def test_iterative_operator_holds_only_the_pins_its_result_reads(spark, name):
    """An iterative operator releases every pin a newer pin replaced and
    every pin its result does not read. New persistent RDDs are compared
    by id: the context cleaner may drop earlier tests' RDDs meanwhile,
    which can only shrink the set."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = RELEASE_CALLS[name](spark)
    rows = sorted(map(tuple, out.collect()))
    held = set(jsc.getPersistentRDDs().keySet()) - before
    assert held == _logical_rdd_ids(out)
    # nothing the result reads was released
    assert sorted(map(tuple, out.collect())) == rows
