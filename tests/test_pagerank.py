"""Fixed-point integer PageRank (operators/graph.py): exactness vs a
float reference, partitioning invariance (the point of the fixed-point
design), dangling-mass semantics, and DuckDB-oracle bit-parity."""

import duckdb
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from uk_ner_presidio_demo_spark.operators.graph import (
    PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE, pagerank, pagerank_oracle_sql,
)

# A small weighted digraph with a hub, a dangling node (d has no
# out-edges), and a multi-weight edge.
EDGES = [
    ("a", "b", 3),
    ("a", "c", 1),
    ("b", "c", 2),
    ("c", "a", 1),
    ("c", "d", 1),
    ("e", "c", 5),  # e has no in-edges -> rank decays to base
]


def _pagerank_float(edges, k):
    """Driver-side float reference: same semantics, real division."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    out_w = {}
    for u, _, w in edges:
        out_w[u] = out_w.get(u, 0) + w
    d = PR_DAMP_NUM / PR_DAMP_DEN
    r = {v: 1.0 / n for v in nodes}
    for _ in range(k):
        nxt = {v: (1 - d) / n for v in nodes}
        for u, v, w in edges:
            nxt[v] += d * r[u] * w / out_w[u]
        r = nxt
    return r


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "subj string, obj string, n_obs long")


def test_matches_float_reference(spark, edges_df):
    got = {r.node: r.rank_fp / PR_SCALE for r in pagerank(edges_df, k=8).collect()}
    want = _pagerank_float(EDGES, k=8)
    assert set(got) == set(want)
    for v in want:
        # fixed-point floor error accumulates < #nodes ulps per iteration;
        # at PR_SCALE=1e12 that is ~1e-11 absolute
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_partitioning_invariance(spark, edges_df):
    """THE fixed-point guarantee: identical BIGINT ranks at any
    parallelism (integer sums are order-independent; float PageRank is
    not).  local_max_edges=0 forces the DISTRIBUTED loop (the default
    gate would solve this toy graph driver-side)."""
    base = sorted(map(tuple, pagerank(edges_df, k=4).collect()))
    for parts in (1, 7):
        re = pagerank(edges_df.repartition(parts), k=4, local_max_edges=0)
        assert sorted(map(tuple, re.collect())) == base


def _rand_edges(n_nodes=120, n_edges=600, seed=7):
    """Deterministic pseudo-random weighted digraph with hubs,
    danglers, and multi-weight edges."""
    import random

    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes)}", f"n{rng.randrange(n_nodes)}",
         rng.randrange(1, 9))
        for _ in range(n_edges)
    ]


def test_strategy_bit_parity(spark):
    """The size gate is scheduling, not semantics: driver-local and
    distributed fixed points must be EXACTLY equal — integer ranks, so
    the test is bit equality, on a graph large enough to have hubs,
    chains, and dangling mass.  k=9 and k=16 run the distributed loop
    past its PR_CKPT_EVERY lineage cut.  Multi-edges are pre-aggregated
    per the operator contract."""
    df = (
        spark.createDataFrame(
            _rand_edges(), "subj string, obj string, n_obs long"
        )
        .groupBy("subj", "obj")
        .agg(F.sum("n_obs").alias("n_obs"))
    )
    for k in (1, 5, 9, 16):
        local = sorted(map(tuple, pagerank(df, k=k).collect()))
        dist = sorted(
            map(tuple, pagerank(df, k=k, local_max_edges=0).collect())
        )
        assert local == dist, f"strategy divergence at k={k}"


def test_mass_accounting(spark, edges_df):
    """Total mass = N*base + damped in-flow; never exceeds PR_SCALE, and
    the only losses are floor rounding + the dangling node's damped mass
    (documented no-redistribution semantics)."""
    n = 5  # a b c d e
    ranks = {r.node: r.rank_fp for r in pagerank(edges_df, k=8).collect()}
    total = sum(ranks.values())
    assert total <= PR_SCALE
    # dangling loss dominates floor error: d holds ~its rank * 0.85 back
    # each iteration, so the shortfall is well above zero...
    assert total < PR_SCALE * 0.99
    # ...and e (no in-edges) sits exactly at base after >=1 iteration
    assert ranks["e"] == (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (
        PR_DAMP_DEN * n
    )


@pytest.mark.parametrize("gate", [0, 200_000])
def test_duckdb_oracle_bit_parity(spark, edges_df, tmp_path, gate):
    """The unrolled-CTE oracle reproduces the Spark BIGINT ranks
    EXACTLY on a triples parquet (multi-edges collapse to weights on
    both sides the same way) — under BOTH physical strategies."""
    triples = edges_df.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.col("n_obs")))
    ).select("subj", F.lit("p").alias("pred"), "obj")
    pq = str(tmp_path / "ct.parquet")
    triples.toPandas().to_parquet(pq)

    spark_ranks = sorted(
        map(
            tuple,
            pagerank(
                triples.groupBy("subj", "obj").agg(F.count("*").alias("n_obs")),
                k=5,
                local_max_edges=gate,
            ).collect(),
        )
    )
    duck = sorted(
        map(tuple, duckdb.execute(pagerank_oracle_sql(pq, k=5)).fetchall())
    )
    assert spark_ranks == duck


def test_empty_graph_and_bad_k(spark):
    """Empty edge frame propagates emptiness (no driver-side division by
    zero); k < 1 is rejected on both engine and oracle sides, on the
    engine side before any Spark job runs."""
    import pytest

    from uk_ner_presidio_demo_spark.operators.graph import (
        pagerank, pagerank_oracle_sql,
    )

    empty = spark.createDataFrame(
        [], "subj string, obj string, n_obs long"
    )
    out = pagerank(empty, k=3)
    assert out.count() == 0
    assert out.columns == ["node", "rank_fp"]
    assert out.schema == StructType([
        StructField("node", StringType()), StructField("rank_fp", LongType()),
    ])
    with pytest.raises(ValueError, match="k must be"):
        pagerank_oracle_sql("/nonexistent.parquet", k=0)
    # a bad k is refused before any Spark job: the edge cut would run
    # the whole upstream chain first
    sc = spark.sparkContext
    group = "test_empty_graph_and_bad_k"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="k must be"):
            pagerank(empty, k=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("extra, local", [(0, True), (1, False)],
                         ids=["at_gate", "gate_plus_one"])
def test_gate_boundary(spark, edges_df, monkeypatch, extra, local):
    """Exactly local_max_edges edges take the driver-local fixed point;
    one edge more takes the distributed loop — bit-identical ranks
    either way."""
    from uk_ner_presidio_demo_spark.operators import graph

    calls = []
    real = graph._local_pagerank
    monkeypatch.setattr(graph, "_local_pagerank",
                        lambda rows, k: calls.append(1) or real(rows, k))
    got = sorted(map(tuple, pagerank(
        edges_df, k=4, local_max_edges=len(EDGES) - extra).collect()))
    assert bool(calls) == local
    assert got == sorted(map(tuple, pagerank(edges_df, k=4).collect()))
    assert got == sorted(map(tuple, pagerank(
        edges_df, k=4, local_max_edges=0).collect()))


def test_local_ranks_keep_declared_types(spark, edges_df):
    out = pagerank(edges_df, k=2)
    assert out.schema == StructType([
        StructField("node", StringType()), StructField("rank_fp", LongType()),
    ])
    assert all(isinstance(r.rank_fp, int) for r in out.collect())
