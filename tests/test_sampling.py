"""Deterministic sampling/splitting: every membership decision must be
reproducible by the single-process twin (semantics.sparkhash) and
invariant to physical partitioning."""

import pandas as pd

from uk_ner_presidio_demo_spark.operators.sampling import (
    GRANULARITY, hash_sample, train_eval_split,
)
from uk_ner_presidio_demo_spark.semantics.sparkhash import (
    pmod, xxhash64_long,
)
from uk_ner_presidio_demo_spark.sources.tables import read_tpch


def _ids(sf01):
    return pd.read_parquet(f"{sf01}/documents.parquet")["doc_id"].tolist()


def _u(doc_id):
    return pmod(xxhash64_long(doc_id), GRANULARITY)


def test_hash_sample_matches_twin(spark, sf01):
    docs = read_tpch(spark, sf01, "documents")
    for frac in (0.1, 0.5):
        got = {r["doc_id"] for r in hash_sample(docs, frac).select("doc_id").collect()}
        want = {d for d in _ids(sf01) if _u(d) < int(frac * GRANULARITY)}
        assert got == want
        assert got  # non-vacuous at these fractions


def test_split_is_disjoint_exhaustive_and_twin_exact(spark, sf01):
    docs = read_tpch(spark, sf01, "documents")
    out = train_eval_split(docs, 0.2).select("doc_id", "split").collect()
    ids = _ids(sf01)
    assert len(out) == len(ids)
    cut = int(0.2 * GRANULARITY)
    for r in out:
        assert r["split"] == ("eval" if _u(r["doc_id"]) < cut else "train")


def test_sampling_is_partitioning_invariant(spark, sf01):
    docs = read_tpch(spark, sf01, "documents")
    a = {r["doc_id"] for r in hash_sample(docs, 0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in
         hash_sample(docs.repartition(7), 0.3).select("doc_id").collect()}
    assert a == b
