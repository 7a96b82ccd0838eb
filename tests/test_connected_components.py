"""Direct unit tests for the connected-components operator — protects the
fused-init/pointer-jump refactors with graph shapes the golden corpus
doesn't stress (long chains, isolated singletons, multiple components per
entity type).

Every shape runs through BOTH physical strategies (r3): the size-gated
driver-side union-find (default for small edge sets) and the distributed
min-label loop (forced with local_max_edges=0) — labelings must be
identical."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from uk_ner_presidio_demo_spark.operators.canonicalize import (
    CC_LOCAL_MAX_EDGES, connected_components,
)

BOTH = pytest.mark.parametrize(
    "lme", [CC_LOCAL_MAX_EDGES, 0], ids=["local", "distributed"]
)


def _run(spark, node_ids, edge_pairs, lme):
    nodes = spark.createDataFrame(
        [("T", n) for n in node_ids], "entity_type string, norm_surface string"
    )
    edges = spark.createDataFrame(
        [("T", a, b) for a, b in edge_pairs],
        "entity_type string, src string, dst string",
    )
    out = connected_components(nodes, edges, local_max_edges=lme)
    return {r.norm_surface: r.label for r in out.collect()}


@BOTH
def test_chain_converges_to_global_min(spark, lme):
    """A 9-node chain (diameter 8) forces multiple pointer-jump rounds;
    every node must still take the chain's minimum id."""
    chain = [f"n{i}" for i in range(9)]
    edges = list(zip(chain, chain[1:]))
    got = _run(spark, chain, edges, lme)
    assert set(got.values()) == {"T:n0"}


@BOTH
def test_star_plus_singletons_and_two_components(spark, lme):
    nodes = ["a", "b", "c", "m", "x", "y", "lone1", "lone2"]
    #   star a-b, a-c (min a);   pair x-y (min x);   m links to the star
    edges = [("b", "a"), ("a", "c"), ("m", "c"), ("y", "x")]
    got = _run(spark, nodes, edges, lme)
    assert got["a"] == got["b"] == got["c"] == got["m"] == "T:a"
    assert got["x"] == got["y"] == "T:x"
    assert got["lone1"] == "T:lone1"  # singleton bypass: own id
    assert got["lone2"] == "T:lone2"


@BOTH
def test_components_never_span_entity_types(spark, lme):
    nodes = spark.createDataFrame(
        [("A", "s"), ("B", "s"), ("A", "t")],
        "entity_type string, norm_surface string",
    )
    edges = spark.createDataFrame(
        [("A", "s", "t")], "entity_type string, src string, dst string"
    )
    out = {(r.entity_type, r.norm_surface): r.label
           for r in connected_components(
               nodes, edges, local_max_edges=lme).collect()}
    assert out[("A", "s")] == out[("A", "t")] == "A:s"
    assert out[("B", "s")] == "B:s"  # same surface, other type: untouched


@BOTH
def test_empty_edges_all_singletons(spark, lme):
    got = _run(spark, ["p", "q"], [], lme)
    assert got == {"p": "T:p", "q": "T:q"}


def test_local_and_distributed_agree_on_corpus_graph(spark, sf01):
    """Strategy-equality property on the REAL linking graph at sf0.01:
    the gated local union-find and the distributed loop must produce the
    identical (entity_type, norm_surface, label) set."""
    import __spark_entry__ as em
    from uk_ner_presidio_demo_spark.operators.detect import (
        detect_turns, mentions_from_turns,
    )
    from uk_ner_presidio_demo_spark.operators.linking import link_entities
    from uk_ner_presidio_demo_spark.sources.tables import (
        read_aliases, read_transcripts,
    )

    tr = read_transcripts(spark, sf01)
    m = mentions_from_turns(detect_turns(tr, with_anonymized=False))
    nodes, edges = link_entities(m, read_aliases(spark))
    key = ("entity_type", "norm_surface", "label")
    local = {tuple(r[k] for k in key)
             for r in connected_components(nodes, edges).collect()}
    dist = {tuple(r[k] for k in key)
            for r in connected_components(
                nodes, edges, local_max_edges=0).collect()}
    assert local == dist and local


@pytest.mark.parametrize("extra, local", [(0, True), (1, False)],
                         ids=["at_gate", "gate_plus_one"])
def test_gate_boundary(spark, monkeypatch, extra, local):
    """Exactly local_max_edges edges take the local union-find; one edge
    more takes the distributed loop — with the labels both strategies
    agree on."""
    from uk_ner_presidio_demo_spark.operators import canonicalize

    calls = []
    real = canonicalize._local_labels
    monkeypatch.setattr(canonicalize, "_local_labels",
                        lambda rows: calls.append(1) or real(rows))
    nodes = ["a", "b", "c", "d", "x", "y", "lone"]
    edges = [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x")][:3 + extra]
    got = _run(spark, nodes, edges, len(edges) - extra)
    assert bool(calls) == local
    assert got == _run(spark, nodes, edges, CC_LOCAL_MAX_EDGES)
    assert got == _run(spark, nodes, edges, 0)
    assert got["d"] == "T:a" and got["lone"] == "T:lone"


def test_local_labels_keep_string_type(spark):
    nodes = spark.createDataFrame(
        [("T", "a"), ("T", "b")], "entity_type string, norm_surface string"
    )
    edges = spark.createDataFrame(
        [("T", "a", "b")], "entity_type string, src string, dst string"
    )
    out = connected_components(nodes, edges)
    assert out.schema["label"].dataType == StringType()
    assert {r.label for r in out.collect()} == {"T:a"}


def test_distributed_loop_raises_when_not_converged(spark):
    """A 16-node path cannot converge in one round: the distributed loop
    must raise at max_iter instead of returning part-propagated labels
    (k_core fails the same way)."""
    chain = [f"n{i:02d}" for i in range(16)]
    nodes = spark.createDataFrame(
        [("T", n) for n in chain], "entity_type string, norm_surface string"
    )
    edges = spark.createDataFrame(
        [("T", a, b) for a, b in zip(chain, chain[1:])],
        "entity_type string, src string, dst string",
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(nodes, edges, max_iter=1,
                             local_max_edges=0).collect()
