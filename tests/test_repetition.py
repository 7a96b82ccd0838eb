"""Repetition quality signals: the mapInPandas kernel must match an
INDEPENDENT DuckDB SQL implementation (list comprehensions over the token
array) on the full corpus, and behave correctly on crafted repetitive
docs."""

import pandas as pd

from tests.harness import compare_frames, duckdb_conn
from uk_ner_presidio_demo_spark.operators.repetition import (
    repetition_keep, repetition_stats,
)
from uk_ner_presidio_demo_spark.sources.tables import read_tpch

# The SQL oracles now live in __spark_entry__ (promoted to driver board
# rows in r4); importing THEM keeps this local gate and the board on one
# oracle text.
from __spark_entry__ import FREQ_PROFILE_ORACLE_SQL, REPETITION_ORACLE_SQL

ORACLE_SQL = REPETITION_ORACLE_SQL


def test_repetition_matches_independent_sql_oracle(spark, sf01):
    got = repetition_stats(read_tpch(spark, sf01, "documents")).toPandas()
    want = duckdb_conn(sf01).execute(ORACLE_SQL).fetchdf()
    assert not compare_frames(got, want)


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_signals_on_crafted_docs(spark):
    spam = "купити дешево " * 30            # one 2-gram everywhere
    clean = " ".join(f"слово{i}" for i in range(40))
    short = "лише два"
    stats = {
        r["doc_id"]: r
        for r in repetition_stats(
            _mk_docs(spark, [spam, clean, short])
        ).collect()
    }
    assert stats[0]["dup_3gram_frac"] > 0.9
    assert stats[0]["top_2gram_frac"] > 0.4
    assert stats[1]["dup_3gram_frac"] == 0.0
    assert stats[2]["n_3grams"] == 0 and stats[2]["dup_3gram_frac"] == 0.0
    assert stats[2]["n_2grams"] == 1 and stats[2]["top_2gram_frac"] == 1.0


def test_repetition_keep_drops_only_spam(spark):
    spam = "те саме знову і " * 25
    clean = " ".join(f"токен{i} зміст{i}" for i in range(30))
    docs = _mk_docs(spark, [spam, clean])
    kept = [r["doc_id"] for r in repetition_keep(docs).select("doc_id").collect()]
    assert kept == [1]


def test_repetition_plan_is_single_crossing_no_shuffle(spark, sf01):
    """ONE Arrow crossing; the only allowed Exchange is the fanout
    round-robin spread of an under-split file scan (r8 — see
    tests/test_scrub.py twin gate), never a hash/range shuffle."""
    df = repetition_stats(read_tpch(spark, sf01, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # at most one fanout, and every Exchange in the plan IS that fanout
    # (a BroadcastExchange or a hash/range shuffle cannot stand in for it)
    assert plan.count("RoundRobinPartitioning") <= 1
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


FREQ_ORACLE_SQL = FREQ_PROFILE_ORACLE_SQL


def test_doc_freq_profile_matches_live_sql(spark, sf01):
    from uk_ner_presidio_demo_spark.operators.textstats import (
        doc_freq_profile,
    )

    got = doc_freq_profile(read_tpch(spark, sf01, "documents")).toPandas()
    want = duckdb_conn(sf01).execute(FREQ_ORACLE_SQL).fetchdf()
    assert not compare_frames(got, want)
