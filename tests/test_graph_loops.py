"""Job-budget tripwire for the distributed graph loops that
operators/graph.py `iterate` drives: connected components, the k-core
peel and PageRank.  Each case counts the Spark jobs of one call plus
its collect, through the status tracker, under its own job group."""

import random

import pytest
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.canonicalize import (
    connected_components,
)
from uk_ner_presidio_demo_spark.operators.graph import k_core, pagerank


def _cc_chain(spark):
    chain = [f"n{i}" for i in range(9)]
    nodes = spark.createDataFrame(
        [("T", n) for n in chain], "entity_type string, norm_surface string"
    )
    edges = spark.createDataFrame(
        [("T", a, b) for a, b in zip(chain, chain[1:])],
        "entity_type string, src string, dst string",
    )
    return lambda: connected_components(nodes, edges, local_max_edges=0)


def _und(spark, pairs):
    return spark.createDataFrame(pairs, "subj string, obj string")


def _kcore_path(spark):
    path = _und(spark, [(f"p{i}", f"p{i + 1}") for i in range(6)])
    return lambda: k_core(path, 2)


def _kcore_random(spark):
    rng = random.Random(23)
    df = _und(spark, [(f"n{rng.randrange(60)}", f"n{rng.randrange(60)}")
                      for _ in range(300)])
    return lambda: k_core(df, 3)


def _pagerank(k):
    def build(spark):
        rng = random.Random(7)
        df = spark.createDataFrame(
            [(f"n{rng.randrange(60)}", f"n{rng.randrange(60)}",
              rng.randrange(1, 9)) for _ in range(200)],
            "subj string, obj string, n_obs long",
        ).groupBy("subj", "obj").agg(F.sum("n_obs").alias("n_obs"))
        return lambda: pagerank(df, k=k, local_max_edges=0)
    return build


# Upper bounds: the most jobs the hand-written loops `iterate` replaced
# ran over 3 runs on a local[4] session (AQE moves a count by about one).
# Through `iterate` the cases ran 54, 23, 12, 32-33 and 39-40 there.
# The k-core path's core is empty: its loop must stop at the round that
# leaves no edge instead of running one more to confirm it.
CASES = {
    "cc_chain9": (_cc_chain, 58),
    "kcore2_path6": (_kcore_path, 29),
    "kcore3_random300": (_kcore_random, 14),
    "pagerank_k8": (_pagerank(8), 33),
    "pagerank_k9": (_pagerank(9), 40),
}


@pytest.mark.parametrize("case", list(CASES))
def test_distributed_loop_job_budget(spark, case):
    build, budget = CASES[case]
    run = build(spark)
    sc = spark.sparkContext
    group = f"test_distributed_loop_job_budget[{case}]"
    sc.setJobGroup(group, group)
    try:
        run().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= budget, f"{n} Spark jobs for {case} (budget {budget})"
