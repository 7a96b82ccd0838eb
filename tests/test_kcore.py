"""k-core peel (operators/graph.py k_core): a networkx-free brute-force
twin on fixed and randomized graphs, the max_iter bound, and the
KG-shaped use (prune weakly-attached entities from canonical triples)."""

import random

import pytest
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.graph import k_core


def _brute_k_core(edges, k):
    """Independent reference: a recompute-from-scratch peel over Python
    sets, no Spark involved."""
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


_rng = random.Random(23)
RANDOM_300 = [
    (f"n{_rng.randrange(60)}", f"n{_rng.randrange(60)}") for _ in range(300)
]

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
    # random graph with hubs, chains, and pendants
    RANDOM_300,
]


@pytest.mark.parametrize("edges", FIXED)
@pytest.mark.parametrize("k", [1, 2, 3])
def test_matches_brute_reference(spark, edges, k):
    got = {r.node for r in k_core(_df(spark, edges), k).collect()}
    assert got == _brute_k_core(edges, k)


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
    # chain graph, k=2 -> empty via the loop's no-edge-left exit
    chain = _df(spark, [("a", "b"), ("b", "c")])
    assert k_core(chain, 2).count() == 0
    assert k_core(chain, 2).columns == ["node"]


def test_loop_raises_when_not_converged(spark):
    """A 6-edge path peels two ends per round: one round is no fixed
    point, so the loop must raise at max_iter instead of returning a
    part-peeled node set (as connected_components does)."""
    path = _df(spark, [(f"p{i}", f"p{i + 1}") for i in range(6)])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        k_core(path, 2, max_iter=1)


@pytest.mark.parametrize("typ, nodes", [("string", ("a", "b", "c")),
                                        ("bigint", (1, 2, 3))])
def test_local_result_keeps_node_type(spark, typ, nodes):
    """The result carries the edge frame's node type, whether or not the
    core is empty."""
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
