"""k-core peel (operators/graph.py k_core): uniqueness-based parity
between the driver-local and distributed strategies, a networkx-free
brute-force twin, hypothesis-style randomized graphs, and the KG-shaped
use (prune weakly-attached entities from canonical triples)."""

import random

import pytest
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.graph import k_core


def _brute_k_core(edges, k):
    """Independent reference: recompute-from-scratch peel (no queue) —
    a different algorithmic shape than the operator's twin."""
    alive = {n for e in edges for n in e[:2]}
    und = {(min(a, b), max(a, b)) for a, b, *_ in edges if a != b}
    while True:
        deg: dict = {}
        for u, v in und:
            if u in alive and v in alive:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
        nxt = {n for n in alive if deg.get(n, 0) >= k}
        if nxt == alive:
            return alive
        alive = nxt


def _df(spark, edges):
    return spark.createDataFrame(
        [(a, b, 1) for a, b, *_ in edges],
        "subj string, obj string, n_obs long",
    )


FIXED = [
    # triangle + pendant: 2-core = the triangle
    [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
    # two triangles sharing a node
    [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
     ("e", "c")],
    # chain: 2-core empty
    [("a", "b"), ("b", "c"), ("c", "d")],
    # K4 with a tail of pendants
    [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
     ("c", "d"), ("d", "e"), ("e", "f")],
    # self-loops and duplicate/reversed edges must not inflate degree
    [("a", "a"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
     ("a", "b")],
]


@pytest.mark.parametrize("edges", FIXED)
@pytest.mark.parametrize("k", [1, 2, 3])
def test_matches_brute_reference(spark, edges, k):
    got = {r.node for r in k_core(_df(spark, edges), k).collect()}
    assert got == _brute_k_core(edges, k)


@pytest.mark.parametrize("k", [2, 3])
def test_local_distributed_set_parity(spark, k):
    """The k-core is UNIQUE, so the driver-local peel and the
    distributed loop must return the same node set on a random graph
    with hubs, chains, and pendants."""
    rng = random.Random(23)
    edges = [
        (f"n{rng.randrange(60)}", f"n{rng.randrange(60)}")
        for _ in range(300)
    ]
    df = _df(spark, edges)
    local = {r.node for r in k_core(df, k).collect()}
    dist = {
        r.node for r in k_core(df, k, local_max_edges=0).collect()
    }
    assert local == dist
    assert local == _brute_k_core(edges, k)


@pytest.mark.parametrize("extra, local", [(0, True), (1, False)],
                         ids=["at_gate", "gate_plus_one"])
def test_gate_boundary(spark, monkeypatch, extra, local):
    """Exactly local_max_edges undirected edges take the driver-local
    peel; one edge more takes the distributed loop — with the same node
    set either way."""
    from uk_ner_presidio_demo_spark.operators import graph

    calls = []
    real = graph._local_k_core
    monkeypatch.setattr(graph, "_local_k_core",
                        lambda rows, k: calls.append(1) or real(rows, k))
    edges = FIXED[3]  # 8 distinct undirected edges
    df = _df(spark, edges)
    got = {r.node for r in k_core(
        df, 2, local_max_edges=len(edges) - extra).collect()}
    assert bool(calls) == local
    assert got == {r.node for r in k_core(
        df, 2, local_max_edges=0).collect()}
    assert got == _brute_k_core(edges, 2) == {"a", "b", "c", "d"}


def test_core_nesting_property(spark):
    """(k+1)-core ⊆ k-core, and k=1 drops exactly the isolated side of
    the undirected simple graph."""
    rng = random.Random(5)
    edges = [
        (f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
        for _ in range(150)
    ]
    df = _df(spark, edges)
    cores = {
        k: {r.node for r in k_core(df, k).collect()} for k in (1, 2, 3, 4)
    }
    assert cores[4] <= cores[3] <= cores[2] <= cores[1]


def test_empty_and_bad_k(spark):
    empty = _df(spark, [])
    assert k_core(empty, 2).count() == 0
    assert k_core(empty, 2).columns == ["node"]
    with pytest.raises(ValueError, match="k must be"):
        k_core(empty, 0)
    # chain graph, k=2 -> empty via the distributed loop's zero branch
    chain = _df(spark, [("a", "b"), ("b", "c")])
    assert k_core(chain, 2, local_max_edges=-1).count() == 0
    assert k_core(chain, 2, local_max_edges=-1).columns == ["node"]


@pytest.mark.parametrize("typ, nodes", [("string", ("a", "b", "c")),
                                        ("bigint", (1, 2, 3))])
def test_local_result_keeps_node_type(spark, typ, nodes):
    """The driver-built local result carries the edge frame's node type,
    whether or not the core is empty."""
    a, b, c = nodes
    tri = spark.createDataFrame([(a, b), (b, c), (c, a)],
                                f"subj {typ}, obj {typ}")
    for k, want in ((2, set(nodes)), (3, set())):
        out = k_core(tri, k)
        assert out.schema.simpleString() == f"struct<node:{typ}>"
        assert {r.node for r in out.collect()} == want


def test_kg_shaped_use(spark, sf001):
    """Prune weakly-attached entities from the canonical-triples graph:
    the 2-core must match the brute reference on the real KG edges."""
    import __spark_entry__ as em

    ct = em.queries()["kg_canonical_triples"](spark, sf001)
    edges = [(r.subj, r.obj) for r in ct.select("subj", "obj").collect()]
    got = {r.node for r in k_core(ct.select("subj", "obj")
                                  .withColumn("n_obs", F.lit(1)), 2)
           .collect()}
    assert got == _brute_k_core(edges, 2)
    # distributed twin agrees on the real graph too
    dist = {
        r.node
        for r in k_core(
            ct.select("subj", "obj").withColumn("n_obs", F.lit(1)), 2,
            local_max_edges=0,
        ).collect()
    }
    assert dist == got
